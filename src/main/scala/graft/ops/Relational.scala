package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator coverage (SURVEY.md §2.2–2.6) re-expressed over
  * the TPC-H-ish test tables.
  *
  * Scale notes (100 TB design stance):
  *   - every dimension join (`part`/`supplier`/`nation`/`region`/`customer`)
  *     is explicitly `broadcast()` — dims stay small relative to facts, so no
  *     shuffle of the fact side ever happens for enrichment (the reference's
  *     async Phoenix/Redis lookup pipeline, SURVEY J3/J5, collapses into
  *     map-side hash joins);
  *   - fact⋈fact joins (orders⋈lineitem) shuffle on the join key once and
  *     Catalyst/AQE pick sort-merge vs shuffled-hash — or, over the
  *     orderkey-bucketed [[BucketStore]] tables, do not shuffle at all;
  *     aggregations after the join reuse the partial-aggregation path
  *     (map-side combine);
  *   - aggregates emit DECIMAL for money (exactness + determinism across
  *     partition orders) and LONG for counts.
  */
object Relational extends QueryModule {

  /** TPC-H Q1-style pricing summary — SURVEY A1/A6 (incremental keyed agg).
    * Ref: DwsTrafficVcChArIsNewPageViewWindow.java:154-179 (field-wise sums).
    *
    * Money is ACCUMULATED in decimal (exact, partition-order-independent)
    * and EMITTED as double: the driver's hasher floats the DuckDB side, so
    * a scale-2 decimal like 134122313.70 vs the floated 134122313.7 would
    * hash-mismatch despite equal values. decimal→double is the correctly
    * rounded nearest double in both engines (unscaled < 2^53), so the final
    * cast is bit-deterministic. Applied to every money emitter below. */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_base"),
        // decimal-in, decimal-math: casting a COMPUTED double to decimal
        // rounds differently in Spark (shortest-string HALF_UP) vs DuckDB
        // (true binary value) — so convert the raw columns first, then
        // multiply exactly; emit the exact decimal sum as double.
        expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)")
          .as("sum_disc_price"),
        count(lit(1)).as("n_rows"))

  /** Fact⋈fact equi-join + agg — SURVEY J1 (order_detail⋈order_info) as
    * the bucketed co-located join, SURVEY J15.
    * Ref: DwdTradeOrderPreProcess.java:141-143.
    *
    * Both sides come from [[BucketStore]] (bucketed+sorted by orderkey,
    * equal bucket counts) and the `merge` hint pins SortMergeJoin, so the
    * executed join has NO shuffle exchange and no explicit sort on either
    * side — the scan's own `HashPartitioning(orderkey, 16)` + file-sorted
    * buckets satisfy the join's requirements (BucketJoinSpec asserts the
    * plan); the only exchange left is the priority-grain rollup. At
    * 100 TB this turns the warehouse's largest recurring exchange into a
    * one-time table-write cost ([[BucketStore]] scaladoc), the batch form
    * of the reference keying its DWD topics by order_id. */
  def revenueByPriority(s: SparkSession, d: String): DataFrame =
    BucketStore.lineitem(s, d).hint("merge")
      .join(BucketStore.orders(s, d).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"))

  /** Per-order line aggregation — the exchange-free per-key rollup,
    * SURVEY J16. The groupBy key is the natural changelog key and the
    * bucket key of [[BucketStore.lineitem]]: the scan reports
    * HashPartitioning(l_orderkey, 16), which already satisfies the
    * aggregation's required distribution, so EnsureRequirements inserts
    * NO Exchange anywhere in the plan — partial and final aggregate fuse
    * over the bucketed scan (BucketJoinSpec asserts the plan shape). The
    * warehouse's recurring per-key rollups (order totals, per-entity
    * state rebuilds) ride the same one-time table layout the co-located
    * join amortizes — at 100 TB, zero shuffle per run instead of the
    * single largest exchange in the query. */
  def orderLineStats(s: SparkSession, d: String): DataFrame =
    BucketStore.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("qty_sum"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))

  /** Left outer join keeping unmatched left rows — SURVEY J2.
    * Ref: DwdTradeOrderPreProcess.java:144-147 (null-padded optional attrs). */
  def custOrderLeft(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        countDistinct(when(col("o_orderkey").isNull, col("c_custkey")))
          .as("n_inactive"))

  /** FULL OUTER JOIN of two aggregate subqueries — SURVEY J8
    * (order-agg vs refund-agg by trademark).
    * Ref: publisher/mapper/CommodityStatsMapper.java:14-37. */
  def commodityFullOuter(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val pt = broadcast(Tables.part(s, d).select("p_partkey", "p_brand"))
    val sold = li.filter(col("l_shipdate") >= lit("2000-01-01"))
      .join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("order_ct"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("order_amount"))
    val refunded = li.filter(col("l_returnflag") === "R" &&
        col("l_shipdate") < lit("2000-01-01"))
      .join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("refund_ct"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("refund_amount"))
    sold.join(refunded, Seq("p_brand"), "full_outer")
  }

  /** Star-schema dim-chain enrichment as broadcast joins — SURVEY J3/J5
    * (the 6-hop async sku→spu→tm→cat3→cat2→cat1 chain collapsed into
    * map-side hash joins; ref DimAsyncFunction.java:20-75). */
  def starDimChain(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select("l_suppkey", "l_partkey", "l_extendedprice")
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        countDistinct(col("p_brand")).as("n_brands"))

  /** Composite-key join — SURVEY J4 (join ON order_id AND sku_id).
    * Ref: DwdTradeRefundPaySuc.java:106-130. Self-join finds repeated
    * (order, part) pairs. */
  def compositeKeyJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_linenumber")
    val a = li.as("a")
    val b = li.as("b")
    a.join(b,
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") === col("b.l_partkey") &&
        col("a.l_linenumber") < col("b.l_linenumber"))
      .groupBy(col("a.l_orderkey").as("o_key"), col("a.l_partkey").as("p_key"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Interval (event-time range) join — SURVEY J6
    * (DataStream intervalJoin between(-5s,+5s);
    * ref test/Flink01_DataStreamJoin.java:43-51). Second-granularity epochs
    * on both sides keep the oracle exact across parquet ns→µs truncation. */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), unix_timestamp(col("ts")).as("view_s"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_timestamp(col("ts")).as("buy_s"))
      .withColumn("bucket", expr("buy_s div 3600"))
    // Time-bucketed equi-join: user_id alone has tiny cardinality here, so a
    // plain equi-join concentrates all pairs on few keys (measured 17.6 s at
    // sf0.1) and would hot-spot partitions at any scale. A 1-window-length
    // time bucket joins each view only against the two buckets its horizon
    // can reach: same result, join-key cardinality × #buckets, pair
    // explosion gone (17.6 s → sub-second).
    val viewsB = views.withColumn("bucket",
      explode(array(expr("view_s div 3600"), expr("view_s div 3600 + 1"))))
    viewsB.join(buys, Seq("user_id", "bucket"))
      .filter(col("buy_s") >= col("view_s") &&
        col("buy_s") <= col("view_s") + lit(3600L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("conversions"))
  }

  /** As-of join (last-touch attribution): each purchase matches the LATEST
    * view at-or-before it by the same user — the point-in-time variant of
    * the temporal lookup join (SURVEY J3; the reference's dim lookups are
    * "latest version as of processing time", DimUtil.java) generalized to
    * event time. Spark has no ASOF JOIN operator, so this composes one
    * Spark-first: union-tag both sides, one shuffle on user_id, and a
    * carry-forward window (`last(_, ignoreNulls)` over rows unbounded
    * preceding) instead of a pair-building join — cost is sort + linear
    * scan per key, never |views|×|buys| pair explosion, and it scales to
    * any per-key history length. Views sort before buys at the same second
    * (ASOF `>=` is inclusive). Emitting the gap (not the matched row id)
    * keeps same-second view ties deterministic. Oracle: DuckDB ASOF JOIN. */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    asofLastTouch(
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_timestamp(col("ts")).as("t")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
          col("event_id")))
  }

  /** Core of [[asofJoin]]: `views(user_id, t)` ⨝asof `buys(user_id, t,
    * event_id)` → one row per buy that has a view at-or-before it,
    * carrying the latest such view time. Separated so specs can drive
    * synthetic frames through the exact production path. */
  def asofLastTouch(views: DataFrame, buys: DataFrame): DataFrame = {
    val v = views.select(col("user_id"), col("t"),
      lit(0).as("side"), lit(null).cast("long").as("event_id"))
    val b = buys.select(col("user_id"), col("t"),
      lit(1).as("side"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v.unionAll(b)
      .withColumn("view_s",
        last(when(col("side") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("view_s").isNotNull)
      .select(col("event_id"), col("user_id"), col("t").as("buy_s"),
        (col("t") - col("view_s")).as("gap_s"))
  }

  /** Salted skew join — SURVEY scale note (ops/Salting). The q-entry proves
    * the salt-invariance contract against the oracle: a 7-way salted
    * lineitem⋈orders must hash-equal the PLAIN join's aggregate. The salt
    * only steers shuffle placement; at 1000 executors it splits one hot key
    * across `shards` tasks where AQE can't (non-SMJ plans, known-a-priori
    * skew). */
  def saltedJoin(s: SparkSession, d: String): DataFrame =
    Salting.saltedEquiJoin(
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
          .withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey", shards = 7)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("sum_qty"))

  /** 10 s tumbling event-time window — SURVEY W1/A1/A3 (all DWS jobs).
    * Batch-mode equivalent of `groupBy(window($"ts","10 seconds"), key)`;
    * window start emitted as epoch seconds (determinism rule, QueryModule). */
  def tumblingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 seconds"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n_events"), col("value_cents"))

  /** Global (non-keyed) hourly window — SURVEY A2/A6
    * (windowAll site-wide counters; ref DwsTrafficPageViewWindow.java:136-158). */
  def hourlyActive(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hr"))
      .agg(count(lit(1)).as("pv"),
        countDistinct(col("user_id")).as("uv"))

  /** First-seen-day dedup (batch analog of the per-day keyed-state dedup) —
    * SURVEY A5; ref DwdTrafficUniqueVisitorDetail.java:69-98. */
  def firstSeenDaily(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"))
      .groupBy(date_format(col("fd"), "yyyy-MM-dd").as("first_day"))
      .agg(count(lit(1)).as("new_users"))

  /** Exact distinct counting per key — SURVEY A4 (Set-state orderCount).
    * Ref: DwsTradeSkuOrderWindow.java:116-117,152,168. */
  def distinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("uv"))

  /** Approx variant of [[distinctUsers]] — the unbounded-key-cardinality
    * path the exact Set-state aggregator (Aggregators.distinctCount scale
    * note) must NOT be used for: HLL++ sketches are O(1) state per key and
    * merge associatively, so the agg stays map-side-combining at any
    * cardinality. Sketch estimates aren't reproducible across engines, so
    * the raw estimates stay spec-territory (RelationalSpec bounds the
    * relative error); the REGISTERED query is [[distinctUsersApprox]],
    * which emits a bracket CHECK the DuckDB oracle can assert. */
  def distinctUsersApproxRaw(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), 0.02).as("uv_approx"))

  /** The driver-gate form of [[distinctUsersApproxRaw]] — the BRACKET
    * ORACLE pattern for sketch aggregates: the query emits deterministic
    * columns plus `uv_within_5pct` = whether Spark's HLL estimate landed
    * within ±5 % of the exact count (computed in the same agg), and the
    * DuckDB oracle asserts the bound HOLDS (`1`). The hash gate then
    * checks the sketch's accuracy contract — the thing an estimate can
    * promise cross-engine — instead of the estimate's bits (which it
    * can't) or nothing (the old rows-only record). A sketch regression
    * beyond the bound flips the flag to 0 and fails the gate. */
  def distinctUsersApprox(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("uv_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("uv_est"))
      .select(col("event_type"), col("n_events"), col("uv_exact"),
        (abs(col("uv_est") - col("uv_exact")).cast("double")
          <= col("uv_exact").cast("double") * 0.05).cast("long")
          .as("uv_within_5pct"))

  /** Mergeable-sketch rollup — the re-aggregation pattern that makes
    * sketches matter at 100 TB (Agarwal et al., "Mergeable Summaries",
    * PODS'12; DataSketches HLL via Spark's `hll_sketch_agg` family).
    *
    * The hourly pass is the ONLY scan of raw events: each (day, hour) cell
    * keeps a ~KB HLL sketch of its user ids. Every coarser grain — day
    * here, and the all-up row merging all 720 hourly sketches — is a
    * union-merge over SKETCHES, so re-aggregation cost is proportional to
    * the number of sketch cells, independent of raw event volume. A serving
    * layer answers any grain without touching the fact table again, which
    * is the difference between a 100 TB re-scan and a KB-sized merge.
    *
    * Gate: the BRACKET pattern ([[distinctUsersApprox]]) — the query emits
    * `uv_within_5pct` = whether the MERGED estimate lands within ±5 % of
    * the exact distinct computed in the same query, per day AND for the
    * all-up merge; DuckDB asserts the flag. A merge that lost registers
    * (the classic mergeability bug) would blow the bound and fail the
    * hash gate. */
  def hllRollup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      date_format(col("ts"), "yyyy-MM-dd HH").as("hr"),
      col("user_id"))
    val hourly = e.groupBy(col("day"), col("hr"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    def bracket(df: DataFrame): DataFrame =
      df.select(col("grain"), col("bucket"), col("n_sketches"),
        col("uv_exact"),
        (abs(col("uv_est") - col("uv_exact")).cast("double")
          <= col("uv_exact").cast("double") * 0.05).cast("long")
          .as("uv_within_5pct"))
    val daily = bracket(
      hourly.groupBy(col("day"))
        .agg(count(lit(1)).as("n_sketches"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("uv_est"))
        .join(e.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("uv_exact")), "day")
        .select(lit("day").as("grain"), col("day").as("bucket"),
          col("n_sketches"), col("uv_exact"), col("uv_est")))
    val allUp = bracket(
      hourly.agg(count(lit(1)).as("n_sketches"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("uv_est"))
        .crossJoin(e.agg(countDistinct(col("user_id")).as("uv_exact")))
        .select(lit("all").as("grain"), lit("ALL").as("bucket"),
          col("n_sketches"), col("uv_exact"), col("uv_est")))
    daily.unionAll(allUp)
  }

  /** KMV bottom-k hashes per event_type — the window size the estimator
    * divides by. 128 keeps ~1/√126 ≈ 9 % standard error and, at the
    * sf0.01 gate (150 distinct users), exercises the ESTIMATE branch
    * rather than the exact small-set branch. */
  private val KmvK = 128

  /** Distinct-count via the KMV (bottom-k) sketch — the deterministic
    * alternative to [[distinctUsersApprox]]'s HLL, and the one sketch in
    * the catalog whose ESTIMATE is hash-exact cross-engine: the state is
    * the k smallest values of a shared 60-bit md5 hash (the same device
    * as `fp60` in TextFunctions), so both engines derive the identical
    * k-th order statistic and the identical (k−1)·2⁶⁰/h₍ₖ₎ estimate —
    * the DuckDB oracle recomputes the estimate itself, not a bracket.
    *
    * Scale story: written declaratively as `dense_rank() ≤ k` over the RAW
    * hash stream (dense_rank gives set semantics without a prior
    * `.distinct()`), which Spark 4 executes with WindowGroupLimit — every
    * map task pre-truncates to its LOCAL bottom-k distinct values before
    * the ONE exchange, so the shuffle carries ≤ k values per (task, key)
    * no matter how many billions of distinct users a key has, and the
    * separate distinct shuffle the naive row_number form needs is gone:
    * Catalyst compiles the declarative form into exactly the sketch's
    * map-side-combine cost model. The typed mergeable form
    * ([[graft.functions.Aggregators.kmv]]) is the streaming/state-store
    * variant; KmvSpec proves the two produce the identical buffer and
    * that merging is split-invariant.
    *
    * The floating-point discipline for the estimate follows the module
    * contract: one textually-identical `floor(127.0 · 2⁶⁰ / h₍ₖ₎)` in both
    * engines (the product is exactly representable — 7-bit mantissa — and
    * the single division is the same IEEE op on the same operands). */
  def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    // ONE event scan and ONE (type, user) distinct feed both the sketch
    // and the exact audit (r15): dense_rank already deduplicated hash
    // ties, so ranking the distinct frame is value-identical while the
    // window walks distinct users instead of raw rows — and the audit is
    // a count over the same pinned frame, not a second scan.
    val base = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint()
    val hashes = base.select(col("event_type"), h.as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sk = hashes.withColumn("dr", dense_rank().over(w))
      .filter(col("dr") <= KmvK)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("h")).as("n_kept"), max(col("h")).as("kth"))
    val exact = base.groupBy(col("event_type"))
      .agg(count(col("user_id")).as("uv_exact"))
    sk.join(exact, "event_type")
      .select(col("event_type"), col("uv_exact"),
        when(col("n_kept") < KmvK, col("n_kept"))
          .otherwise(floor(
            lit((KmvK - 1).toDouble) * lit((1L << 60).toDouble)
              / col("kth").cast("double")))
          .cast("long").as("uv_kmv"))
      .withColumn("within_15pct",
        (abs(col("uv_kmv") - col("uv_exact")).cast("double")
          <= col("uv_exact").cast("double") * 0.15).cast("long"))
  }

  /** KMV rollup — [[hllRollup]]'s re-aggregation pattern with the
    * DETERMINISTIC sketch: hour-grain bottom-k sketches merge to day and
    * all-up grains, and because bottomk(A ∪ B) = bottomk(bottomk(A) ∪
    * bottomk(B)) the merged sketch is IDENTICAL to the sketch computed
    * directly from raw events. The oracle exploits exactly that: DuckDB
    * computes each grain's sketch DIRECTLY while Spark computes it by
    * merging the stored finer sketches — a hash match IS a cross-engine
    * proof of the merge identity (no bracket needed, unlike HLL whose
    * register-union only bounds error).
    *
    * Scale: the raw scan happens once (hour grain); every coarser grain
    * re-aggregates sketch rows (≤ cells × k). The all-up window is global
    * but its input is the day-sketch rows (≤ days × k), never raw events
    * — same accounting as the hourly pass's per-cell WindowGroupLimit. */
  def kmvRollup(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val e = Tables.events(s, d).select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      date_format(col("ts"), "yyyy-MM-dd HH").as("hr"),
      col("user_id"), h.as("h"))
    def est: Column =
      when(col("n_kept") < KmvK, col("n_kept"))
        .otherwise(floor(
          lit((KmvK - 1).toDouble) * lit((1L << 60).toDouble)
            / col("kth").cast("double")))
        .cast("long").as("uv_kmv")
    val wHr = Window.partitionBy(col("day"), col("hr")).orderBy(col("h"))
    // (r15 note: a pinned (day, hr, user_id) distinct shared by both
    // audit branches was measured a WASH here — the distinct exchange +
    // checkpoint cost what the saved third event scan cost — so the
    // audit branches keep their own scans; each is one 2-phase
    // countDistinct with map-side partials.)
    val hourRows = e.select(col("day"), col("hr"), col("h")).distinct()
      .withColumn("dr", dense_rank().over(wHr)).filter(col("dr") <= KmvK)
      .select(col("day"), col("hr"), col("h"))
    val wDay = Window.partitionBy(col("day")).orderBy(col("h"))
    val dayRows = hourRows.select(col("day"), col("h")).distinct()
      .withColumn("dr", dense_rank().over(wDay)).filter(col("dr") <= KmvK)
      .select(col("day"), col("h"))
    val dayOut = dayRows
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"))
      .join(e.groupBy(col("day"))
        .agg(countDistinct(col("hr")).as("n_merged"),
          countDistinct(col("user_id")).as("uv_exact")), "day")
      .select(lit("day").as("grain"), col("day").as("bucket"),
        col("n_merged"), col("uv_exact"), est)
    val wAll = Window.orderBy(col("h"))
    val allOut = dayRows.select(col("h")).distinct()
      .withColumn("dr", dense_rank().over(wAll)).filter(col("dr") <= KmvK)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"))
      .crossJoin(e.agg(countDistinct(col("day")).as("n_merged"),
        countDistinct(col("user_id")).as("uv_exact")))
      .select(lit("all").as("grain"), lit("ALL").as("bucket"),
        col("n_merged"), col("uv_exact"), est)
    dayOut.unionAll(allOut)
  }

  /** Mergeable QUANTILE rollup — the fourth member of the mergeable-
    * summary family (HLL ✓ distinct, KMV ✓ distinct+set-ops, Misra–Gries
    * ✓ heavy hitters, quantiles here): a deterministic bottom-k-by-
    * row-hash SAMPLE per hour cell (h = 60-bit md5 of the unique
    * event_id — a uniform row sample, where KMV's hash-of-VALUE samples
    * distinct values) merges hour → day → all-up by re-taking bottom-k
    * of the union, the same order-statistic identity the KMV rollup
    * proves: bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B)). Spark
    * computes day and all-up grains by MERGING the stored finer samples;
    * the DuckDB oracle computes each grain's sample DIRECTLY from raw
    * rows — the hash match is a cross-engine proof of the merge
    * identity. Quantile estimates are order statistics of the sample
    * (the [[valueQuantiles]] rank device at floor((n−1)p)+1 over cents),
    * so the ESTIMATES are deterministic and hash-exact — no bracket
    * needed; exact quantiles ride along as the error audit
    * (RelationalSpec pins the sample estimates inside the exact
    * p25–p75 band).
    *
    * Scale: raw rows are scanned once (hour grain + the exact audit);
    * every coarser grain re-aggregates ≤ cells × k sample rows. This is
    * the streaming/ambient form of quantile monitoring at 100 TB: each
    * ingest hour keeps a k-row sample, and any ad-hoc grain (day, week,
    * source, all-up) is answered from stored samples without re-reading
    * events — the exact audit columns exist only because the gate wants
    * them provable. */
  def quantileRollup(s: SparkSession, d: String): DataFrame = {
    val hh = conv(substring(md5(col("event_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val e = Tables.events(s, d).filter(col("value").isNotNull).select(
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      date_format(col("ts"), "yyyy-MM-dd HH").as("hr"),
      round(col("value") * 100).cast("long").as("cents"),
      hh.as("h"))

    def bottomK(df: DataFrame, parts: Seq[String]): DataFrame = {
      val w = (if (parts.isEmpty) Window.partitionBy()
        else Window.partitionBy(parts.map(col): _*))
        .orderBy(col("h"), col("cents"))
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= KmvK).drop("rn")
    }
    // per-sample quantile picks at rank floor((n−1)p)+1 — ROW-rank form,
    // used only on bottom-k SAMPLES (≤ cells × k rows)
    def picks(df: DataFrame, parts: Seq[String], nName: String,
        p50Name: String, p90Name: String): DataFrame = {
      val wp = if (parts.isEmpty) Window.partitionBy()
        else Window.partitionBy(parts.map(col): _*)
      val ranked = df
        .withColumn("vrn", row_number().over(wp.orderBy(col("cents"), col("h"))))
        .withColumn("ns", count(lit(1)).over(wp))
      def pick(p: Double, name: String) =
        min(when(col("vrn") >=
          (floor((col("ns") - 1) * lit(p)) + 1).cast("long"),
          col("cents"))).as(name)
      val agged = if (parts.isEmpty) ranked.groupBy()
        else ranked.groupBy(parts.map(col): _*)
      agged.agg(max(col("ns")).as(nName),
        pick(0.5, p50Name), pick(0.9, p90Name))
    }
    // exact-audit picks — the HISTOGRAM cumulative device (the
    // [[valueQuantiles]] shape) over a PRE-AGGREGATED (…, cents, ct)
    // histogram: the window walks distinct-cents rows, never raw rows,
    // so the global all-up pick costs a cents-cardinality sort, not a
    // corpus sort. Same floor((n−1)p)+1 rank, identical picked value.
    def histPicks(hist: DataFrame, parts: Seq[String], nName: String,
        p50Name: String, p90Name: String): DataFrame = {
      val wp = if (parts.isEmpty) Window.partitionBy()
        else Window.partitionBy(parts.map(col): _*)
      val cum = hist
        .withColumn("cum", sum(col("ct")).over(wp.orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ns", sum(col("ct")).over(wp))
      def pick(p: Double, name: String) =
        min(when(col("cum") >=
          (floor((col("ns") - 1) * lit(p)) + 1).cast("long"),
          col("cents"))).as(name)
      val agged = if (parts.isEmpty) cum.groupBy()
        else cum.groupBy(parts.map(col): _*)
      agged.agg(max(col("ns")).as(nName),
        pick(0.5, p50Name), pick(0.9, p90Name))
    }

    val hourS = bottomK(e.select(col("day"), col("hr"), col("h"),
      col("cents")), Seq("day", "hr")).localCheckpoint()
    val dayS = bottomK(hourS.select(col("day"), col("h"), col("cents")),
      Seq("day"))
    val allS = bottomK(dayS.select(col("h"), col("cents")), Nil)

    // r16 ADJUDICATION of the r15 dayHist pin (VERDICT r15 #1): the
    // eager localCheckpoint of the day-grain histogram measured AT BEST
    // a wash against lazy re-derivation (pinned 2.29–2.39 s across three
    // quiet windows vs 2.22–2.24 s for this shape; control-normalized
    // bands overlap) — the same lesson as the scd2/rfm pins this round:
    // a modest-cardinality pin buys back two pruned parallel scans but
    // pays a serial materialization job. Kept from r15: both n_merged
    // frames derive from the pinned hour SAMPLE (bottom-k keeps ≥1 row
    // per non-empty cell, so the (day, hr) and day sets are preserved
    // exactly) — that part saves two full countDistinct scans for a
    // sample-sized aggregate and is unambiguous. Each audit histogram
    // below is its own lazy one-exchange aggregation off the scan
    // (3 total event scans; the r14 shape paid 5).
    val dayHist = e.groupBy(col("day"), col("cents"))
      .agg(count(lit(1)).as("ct"))
    val allHist = e.groupBy(col("cents"))
      .agg(count(lit(1)).as("ct"))
    val dayMerged = hourS.select(col("day"), col("hr")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_merged"))
    val allMerged = hourS.select(col("day")).distinct()
      .agg(count(lit(1)).as("n_merged"))

    val dayOut = picks(dayS, Seq("day"), "n_sample", "est_p50", "est_p90")
      .join(histPicks(dayHist, Seq("day"), "n_rows", "exact_p50",
        "exact_p90"), "day")
      .join(dayMerged, "day")
      .select(lit("day").as("grain"), col("day").as("bucket"),
        col("n_merged"), col("n_rows"), col("n_sample"),
        col("est_p50"), col("est_p90"), col("exact_p50"), col("exact_p90"))
    val allOut = picks(allS, Nil, "n_sample", "est_p50", "est_p90")
      .crossJoin(histPicks(allHist, Nil, "n_rows", "exact_p50",
        "exact_p90"))
      .crossJoin(allMerged)
      .select(lit("all").as("grain"), lit("ALL").as("bucket"),
        col("n_merged"), col("n_rows"), col("n_sample"),
        col("est_p50"), col("est_p90"), col("exact_p50"), col("exact_p90"))
    dayOut.unionAll(allOut)
  }

  /** KMV set-operation estimates — audience overlap between event types
    * from bottom-k sketches alone (Beyer et al., SIGMOD'07): for every
    * type pair, the union's bottom-k gives |A∪B|, and the fraction ρ of
    * that bottom-k present in BOTH sets estimates Jaccard, so
    * |A∩B| ≈ ρ·|A∪B| — the audience-overlap question answered without
    * ever materializing the intersection. Like [[kmvDistinct]] (and
    * unlike HLL) every output is a deterministic function of order
    * statistics of the shared 60-bit md5 device, so the ESTIMATES
    * themselves are hash-exact cross-engine — the oracle recomputes
    * them, no bracket needed; exact counts ride along for the error
    * audit.
    *
    * Scale story: the per-(pair, hash) membership rollup and the
    * dense_rank ≤ k window are both keyed by pair — WindowGroupLimit
    * truncates each map task to its local bottom-k before the one
    * exchange, so shuffle ∝ pairs × k regardless of user cardinality;
    * in production the per-type sketches are tiny mergeable state
    * (the typed [[graft.functions.Aggregators.kmv]]) and this query is
    * the read side over stored sketches. */
  def kmvOverlap(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val et = Tables.events(s, d)
      .select(col("event_type"), h.as("h")).distinct()
    val types = et.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("et_a"))
      .crossJoin(types.select(col("event_type").as("et_b")))
      .filter(col("et_a") < col("et_b"))
    val members = broadcast(pairs)
      .join(et, col("event_type") === col("et_a") ||
        col("event_type") === col("et_b"))
      .groupBy(col("et_a"), col("et_b"), col("h"))
      .agg(max((col("event_type") === col("et_a")).cast("int")).as("in_a"),
        max((col("event_type") === col("et_b")).cast("int")).as("in_b"))
    val w = Window.partitionBy(col("et_a"), col("et_b")).orderBy(col("h"))
    val sk = members.withColumn("dr", dense_rank().over(w))
      .filter(col("dr") <= KmvK)
      .groupBy(col("et_a"), col("et_b"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"),
        sum((col("in_a") === 1 && col("in_b") === 1).cast("long"))
          .as("n_both_kept"))
    val exact = members.groupBy(col("et_a"), col("et_b"))
      .agg(count(lit(1)).as("union_exact"),
        sum((col("in_a") === 1 && col("in_b") === 1).cast("long"))
          .as("inter_exact"))
    sk.join(exact, Seq("et_a", "et_b"))
      .select(col("et_a"), col("et_b"), col("union_exact"),
        col("inter_exact"),
        when(col("n_kept") < KmvK, col("n_kept"))
          .otherwise(floor(
            lit((KmvK - 1).toDouble) * lit((1L << 60).toDouble)
              / col("kth").cast("double")))
          .cast("long").as("union_kmv"),
        when(col("n_kept") < KmvK, col("n_both_kept"))
          .otherwise(floor(
            col("n_both_kept").cast("double") / col("n_kept") *
              (lit((KmvK - 1).toDouble) * lit((1L << 60).toDouble)
                / col("kth").cast("double"))))
          .cast("long").as("inter_kmv"))
  }

  /** ORDERED funnel completion — the sequenced-pattern (CEP / MATCH_
    * RECOGNIZE) question "how many users did view, THEN click, THEN
    * purchase, in that order" answered as conditional aggregation: one
    * per-user pivot of first-occurrence epochs (min-when per stage), then
    * strict `<` chains over the pivoted columns. NULL propagation does
    * the stage gating for free — a missing stage makes its comparison
    * NULL → the completion flag 0 in both engines. Complements
    * [[funnelUnion]] (stage totals, unordered) and the streaming
    * bounce CEP (StatefulOps.bounceDetectorTws): this is the batch
    * sequence-pattern form.
    *
    * Scale: ONE scan, one user-keyed partial-aggregable pivot (the only
    * exchange), then a scalar rollup — sequence detection with no self-
    * join, no window sort, no per-event state; at 100 TB the alternative
    * event-order window over the raw stream would sort every user's
    * history. Second-granularity epochs per the QueryModule determinism
    * rule. */
  def funnelOrder(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("tsec"))).as("t_view"),
        min(when(col("event_type") === "click", col("tsec"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("tsec"))).as("t_buy"))
    val complete = col("t_view") < col("t_click") &&
      col("t_click") < col("t_buy")
    per.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("t_view").isNotNull, 1).otherwise(0)).cast("long")
        .as("n_view"),
      sum(when(col("t_view") < col("t_click"), 1).otherwise(0)).cast("long")
        .as("n_view_then_click"),
      sum(when(complete, 1).otherwise(0)).cast("long")
        .as("n_funnel_complete"),
      (sum(when(complete, col("t_buy") - col("t_view"))).cast("double") /
        nullif(sum(when(complete, 1).otherwise(0)), lit(0)) / 3600.0)
        .as("avg_hours_to_convert"))
  }

  /** Event-type TRANSITION matrix (first-order Markov counts): for every
    * user's event stream ordered by (epoch second, event_id — the total
    * order both engines pin), count adjacent (prev → next) type pairs
    * and row-normalize to transition probabilities. The
    * sequence-analytics complement of [[funnelOrder]]: the funnel asks
    * about one fixed pattern, the matrix summarizes ALL observed
    * adjacencies (drop-off analysis, anomaly detection on shifted
    * matrices — the DQ-drift idea applied to behavior).
    *
    * Scale: one user-keyed exchange, per-user sort of that user's own
    * history (lag inside the window pass), then a types²-sized rollup —
    * no self-join; the matrix is vocabulary-sized output from one scan.
    * The probability is a double ratio of exact longs (gate compares at
    * 1e-9 — deterministic division of deterministic counts). */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec").asc, col("event_id").asc)
    val adj = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = adj.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("row_n"))
    adj.join(tot, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("row_n").cast("double")).as("p"))
  }

  /** PageRank iteration count and fixed-point scale for [[eventPagerank]]. */
  val PagerankIters = 10
  val PagerankScale = 1000000000L

  /** Weighted PageRank over the event-transition graph — eigenvector
    * centrality of the user-journey Markov chain ([[eventTransitions]]'s
    * matrix promoted from one-step probabilities to the stationary
    * signal; the graph-algorithms shelf's iterative member next to the
    * connected-components and triangle entries).
    *
    * Determinism: ranks are FIXED-POINT longs (scale [[PagerankScale]] =
    * parts-per-billion) and every update is integer arithmetic —
    * `(85 * rank * w) div (100 * out_w)` — so there is no IEEE anything
    * to diverge: Spark's `div` and DuckDB's `//` agree exactly on
    * positive longs, and the DuckDB oracle replays the identical
    * recursion (recursive CTE with per-iteration GROUP BY), making the
    * hash gate a cross-engine proof of all 10 iterations. Headroom:
    * 85 × rank × w stays < 2^63 while total scaled mass × max edge count
    * < 1e17 — comfortable until per-edge transition counts reach ~2e7
    * (×10000 the gate volume; renormalize edge weights by their GCD
    * before iterating beyond that).
    *
    * Semantics pin: nodes start with mass [[PagerankScale]] each; a node
    * with no in-edges leaves the frontier after one iteration and a
    * no-out-edge node's mass evaporates (the standard trimmed-graph
    * variant, identical algebra in both engines — on the gate data the
    * transition graph is complete, so nothing trims). Truncation leaks
    * < 1 ppb × edges per iteration by design; [[graft.RelationalSpec]]
    * bounds total mass drift.
    *
    * 100 TB stance: the expensive part — building the weighted edge list
    * from raw events — is ONE pass (the same lag-window shuffle the
    * transition matrix pays), after which iteration cost is
    * edge-table-sized, independent of event volume. Each iteration is
    * one shuffle keyed by dst; the edge table is `localCheckpoint`ed
    * once and reused by all 10 joins, and each iterate is checkpointed
    * to truncate lineage (at cluster scale: ranks and edges co-partitioned
    * by vertex so the join is exchange-free on the rank side). */
  def eventPagerank(s: SparkSession, d: String): DataFrame =
    pagerankIterate(eventEdges(s, d), PagerankIters)
      .select(col("v").as("event_type"), col("rank").as("rank_ppb"))

  /** The weighted event-type transition edge list (src, dst, w) — the one
    * event-volume-sized pass shared by both PageRank variants. */
  private def eventEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type").as("src"), col("event_type").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Convergence threshold and round cap for [[eventPagerankConverge]]:
    * stop once no node's rank moved more than [[PagerankConvEps]] scaled
    * units (1e-3 of one node's unit mass) between consecutive iterations,
    * hard-capped at [[PagerankConvCap]] rounds so the DuckDB oracle's
    * recursion stays finite regardless of the data's spectral gap. */
  val PagerankConvEps = 1000000L
  val PagerankConvCap = 25

  /** The iteration core behind [[eventPagerank]], over any weighted edge
    * list (src, dst, w): fixed-point integer PageRank, `iters` rounds.
    * Exposed for the spec's hand-computable graphs. */
  private[graft] def pagerankIterate(adj: DataFrame, iters: Int): DataFrame = {
    // the loop must run: the returned frame is the i == iters checkpoint;
    // with iters <= 0 the tail unpersist below would free the edge blocks
    // a pass-through result still reads (a LAZY failure at collect time)
    require(iters >= 1, s"pagerankIterate needs iters >= 1, got $iters")
    val outw = adj.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val e = adj.join(outw, Seq("src")).localCheckpoint()
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    var pr = nodes.withColumn("rank", lit(PagerankScale))
    var lastCp: Option[DataFrame] = None
    for (i <- 1 to iters) {
      pr = e.join(pr, e("src") === pr("v"))
        .select(col("dst"),
          expr("(85 * rank * w) div (100 * ow)").as("contrib"))
        .groupBy(col("dst"))
        .agg((lit(15L * PagerankScale / 100L) + sum(col("contrib")))
          .as("rank"))
        .withColumnRenamed("dst", "v")
      // checkpoint CADENCE, not every step: lineage only needs truncating
      // before Catalyst's analysis cost compounds, so every 3rd iteration
      // keeps <= 3 join+agg layers un-truncated. Algebra unchanged, so
      // the oracle's hash proof is cadence-invariant. (Measured neutral
      // at sf0.1 — this query's cost is the event-volume edge build, not
      // the iteration jobs; the cadence matters when iterating to
      // convergence on a graph whose plans are deep.)
      if (i % 3 == 0 || i == iters) {
        pr = pr.localCheckpoint()
        // the superseded checkpoint's blocks are dead the moment the new
        // one materializes (localCheckpoint is eager) — release them
        // instead of pinning every third iterate until GC; at
        // convergence-length runs the pinned set would otherwise grow
        // linearly with rounds
        lastCp.foreach(unpersistCheckpoint)
        lastCp = Some(pr)
      }
    }
    // the returned frame is itself a checkpoint (i == iters always
    // lands one), so the edge table's blocks are no longer reachable
    unpersistCheckpoint(e)
    pr
  }

  /** Releases the cached blocks behind a `localCheckpoint()`ed frame.
    * A local checkpoint pins its RDD's blocks until the RDD is GC'd;
    * iterative algorithms that checkpoint per round must unpersist the
    * superseded iterate explicitly or accumulate one pinned copy of the
    * working set per round. Non-checkpoint plans have no LogicalRDD leaf
    * and pass through untouched. (Shared: VectorOps' recall audits apply
    * the same discipline to their intermediate checkpoints.) */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** Convergence-gated PageRank: the SAME fixed-point integer algebra as
    * [[pagerankIterate]], but iterating until no node's rank moves more
    * than `eps` scaled units between consecutive rounds (max |Δrank| ≤
    * eps over the inner-join of consecutive iterates), with a hard `cap`
    * so both engines' work is bounded. Returns (v, rank, iters_run) where
    * `iters_run` is the FIRST converged round (or `cap`).
    *
    * The per-round stopping test is one max-of-abs-deltas aggregate — a
    * single driver-side scalar per round (the legitimate `.collect()`
    * class: bounded by 1 row, like `gdprPurge`'s registry count). Every
    * iterate is localCheckpointed (it is materialized by the delta job
    * anyway) and the superseded one unpersisted, so peak pinned state is
    * two node-table-sized frames regardless of round count. The DuckDB
    * oracle replays the identical recursion to `cap`, derives every
    * round's max-delta declaratively, and selects the first converged
    * round — so the hash gate proves the STOPPING DECISION cross-engine,
    * not just the final ranks. */
  private[graft] def pagerankConverge(adj: DataFrame, eps: Long,
      cap: Int): DataFrame = {
    val outw = adj.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val e = adj.join(outw, Seq("src")).localCheckpoint()
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
    var pr = nodes.withColumn("rank", lit(PagerankScale)).localCheckpoint()
    var i = 0
    var converged = false
    while (i < cap && !converged) {
      i += 1
      val next = e.join(pr, e("src") === pr("v"))
        .select(col("dst"),
          expr("(85 * rank * w) div (100 * ow)").as("contrib"))
        .groupBy(col("dst"))
        .agg((lit(15L * PagerankScale / 100L) + sum(col("contrib")))
          .as("rank"))
        .withColumnRenamed("dst", "v")
        .localCheckpoint()
      val delta = next
        .join(pr.withColumnRenamed("rank", "prev"), Seq("v"))
        .agg(coalesce(max(abs(col("rank") - col("prev"))), lit(0L)))
        .head().getLong(0)
      converged = delta <= eps
      unpersistCheckpoint(pr)
      pr = next
    }
    unpersistCheckpoint(e)
    pr.withColumn("iters_run", lit(i.toLong))
  }

  /** [[eventPagerank]]'s convergence-gated sibling: iterate the event-type
    * transition graph until the stationary distribution stops moving
    * (ε = [[PagerankConvEps]], cap = [[PagerankConvCap]]) instead of a
    * fixed round count — what a production centrality job actually runs,
    * since the needed round count depends on the graph's spectral gap,
    * not on a constant. Emits `iters_run` so the stopping round itself is
    * hash-gated. */
  def eventPagerankConverge(s: SparkSession, d: String): DataFrame =
    pagerankConverge(eventEdges(s, d), PagerankConvEps, PagerankConvCap)
      .select(col("v").as("event_type"), col("rank").as("rank_ppb"),
        col("iters_run"))

  /** Cohort-retention matrix — the full generalization of
    * `AdsQueries.userRetention`'s next-day number (reference
    * UserStatsMapper.java:12-63 counts only day+1 returns): users are
    * cohorted by FIRST-ACTIVE week, and each (cohort_week, offset) cell
    * counts how many of them were active `offset` weeks later, with the
    * retention rate as the one sanctioned IEEE division of two exact
    * longs.
    *
    * Scale: one distinct pass to (user, week) grain — the only
    * event-volume-sized step, partial-aggregable — then a user-keyed
    * min-aggregate for cohorts and a user-keyed join back; all
    * subsequent rollups are (users × weeks)-sized. The cohort join is a
    * self-join on user_id at the DISTINCT grain, so the shuffle carries
    * two longs per active user-week, never events. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 604800").as("week"))
      .distinct()
    val cohort = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("offset"))
      .agg(count(lit(1)).as("retained"))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("offset"), col("retained"),
        col("cohort_size"),
        (col("retained").cast("double") /
          col("cohort_size").cast("double")).as("retention_rate"))
  }

  /** UNION ALL funnel of labeled aggregates — SURVEY U2
    * (ref publisher/mapper/UserStatsMapper.java:12-63). */
  def funnelUnion(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def m(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), col("ct"))
    m("view_ct", ev.filter(col("event_type") === "view")
        .agg(count(lit(1)).as("ct")))
      .unionAll(m("click_ct", ev.filter(col("event_type") === "click")
        .agg(count(lit(1)).as("ct"))))
      .unionAll(m("purchase_ct", ev.filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("ct"))))
      .unionAll(m("signup_ct", ev.filter(col("event_type") === "signup")
        .agg(count(lit(1)).as("ct"))))
      .unionAll(m("uv", ev.agg(countDistinct(col("user_id")).as("ct"))))
  }

  /** Top-k by aggregate with deterministic tie-break — SURVEY U3/U4
    * (ORDER BY ... DESC LIMIT; ref CommodityStatsMapper.java:119). */
  def topkBrands(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select("l_partkey", "l_extendedprice")
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("gmv_d"))
      // rank on the EXACT decimal (two distinct decimals could collapse to
      // one double and change the top-10 boundary), emit as double
      .orderBy(col("gmv_d").desc, col("p_brand").asc)
      .limit(10)
      .select(col("p_brand"), col("gmv_d").cast("double").as("gmv"))

  /** JSON field extraction from a string column — SURVEY O3-style map access
    * (data['col']; ref DwdTradeOrderPreProcess1.java:42-97) via
    * get_json_object on `events.props`. */
  def jsonProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))

  /** Conditional aggregation + ratio math — SURVEY O4/A6
    * (if/multiIf + round(x/y); ref TradeStatsMapper.java:18-37). */
  def statusConditional(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice") > 200000, 1).otherwise(0)).as("high_ct"))
      .withColumn("high_ratio",
        col("high_ct").cast("double") / col("n_orders"))

  /** ROLLUP hierarchy totals — SURVEY A7 extension (cube/rollup). */
  def rollupGeo(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,2)"))
          .cast("double").as("acctbal_sum"))

  /** Fuzzy matching / entity resolution on a value DICTIONARY: near-equal
    * brand pairs by edit distance ≤ 1. The quadratic self-join runs over
    * DISTINCT values (vocabulary-sized, broadcast), never over rows — the
    * dim-hygiene shape (typo'd brand/category labels) where the
    * dictionary stays small as data grows. Limit: the dictionary must
    * fit a broadcast, and the compare is O(|dict|²) — a dictionary past
    * that needs the exact blocked engine [[blockedNearPairs]]. */
  def fuzzyBrand(s: SparkSession, d: String): DataFrame = {
    val b = Tables.part(s, d).select(col("p_brand")).distinct()
    b.as("x").join(broadcast(b.as("y")), col("x.p_brand") < col("y.p_brand"))
      .select(col("x.p_brand").as("b1"), col("y.p_brand").as("b2"),
        levenshtein(col("x.p_brand"), col("y.p_brand")).as("dist"))
      .filter(col("dist") <= 1)
  }

  /** TRIANGLE census + global clustering coefficient over the fuzzy-
    * match similarity graph — the graph-shape audit that tells a dedup
    * pipeline whether its near-match families are cliquish (true
    * variant clusters: safe to canonicalize to one representative) or
    * chainy (transitive drift: A≈B≈C with A̸≈C, where canonicalizing
    * would over-merge). Connected components answer "what merges";
    * the clustering coefficient answers "is merging SOUND".
    *
    * Edges come from the BLOCKED pair engine ([[blockedNearPairs]] — the
    * scale path, no broadcast), so the census composes with the
    * billion-entry dictionary story. Triangle join is the ordered-
    * adjacency device: edges kept as (lo < hi) once, wedges joined
    * lo-to-lo so each triangle a<b<c is found exactly once as
    * (a,b)+(a,c) closed by (b,c) — degree-bounded fan-out, no all-pairs.
    * Output is one row of exact longs plus cc = 3·T/wedges (single IEEE
    * division of exact ints — bit-stable under the strict gate; the
    * brand graph's digit-neighbor cliques make every field live). */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val e = blockedNearPairs(
        Tables.part(s, d).select(col("p_brand")).distinct(), "p_brand")
      .select(col("b1"), col("b2")).localCheckpoint()
    val deg = e.select(col("b1").as("v")).unionAll(e.select(col("b2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
    val tri = e.as("ab")
      .join(e.as("ac"), col("ab.b1") === col("ac.b1") &&
        col("ab.b2") < col("ac.b2"))
      .join(e.as("bc"), col("bc.b1") === col("ab.b2") &&
        col("bc.b2") === col("ac.b2"))
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        (lit(3.0) * col("n_triangles").cast("double") /
          nullif(col("n_wedges"), lit(0L)).cast("double"))
          .as("clustering_coeff"))
  }

  /** Exact near-pair blocking (edit distance ≤ 1) over any distinct
    * single-column dictionary: candidates-then-verify instead of the
    * O(|dict|²) nested-loop compare of [[fuzzyBrand]]. The edge source of
    * [[graphTriangles]]; DedupPropertySpec proves completeness on RANDOM
    * dictionaries, not just the brand vocabulary.
    *
    * Block key = the DELETION NEIGHBORHOOD (SymSpell's device): every
    * string keys on itself plus each single-character deletion. Two
    * strings at edit distance ≤ 1 ALWAYS share a key (substitution at i →
    * both delete i; insertion/deletion → the shorter string IS a deletion
    * variant of the longer), so unlike q-gram LSH this blocking is exact.
    * |dict|×(len+1) keys shuffle-join on the variant string — bucket size
    * ∝ strings per neighborhood, never all-pairs, no broadcast. The HOF
    * that builds variants is interpreted (CodegenFallback) but runs over
    * the DISTINCT dictionary only.
    *
    * Totality over the documented domain: the deletion transform is
    * guarded — for an empty string `sequence(1, 0)` would yield the
    * DESCENDING sequence [1, 0] (an accident this code must not lean on),
    * so "" takes the empty-variant branch and keys only on itself, which
    * still pairs it with every single-character string (their deletion
    * variant IS "") — recall 1.0 holds at the bottom of the domain too.
    * NULL entries are dropped explicitly (explode(NULL) would drop them
    * anyway, but by accident): NULL cannot participate in any pair under
    * the `b1 < b2` contract. */
  private[graft] def blockedNearPairs(dict: DataFrame, c: String): DataFrame = {
    val variants = expr(
      s"""array_distinct(concat(
         |  array($c),
         |  CASE WHEN length($c) > 0 THEN
         |    transform(sequence(1, length($c)),
         |      i -> concat(substring($c, 1, i-1),
         |                  substring($c, i+1, length($c) - i)))
         |  ELSE CAST(array() AS array<string>) END))"""
        .stripMargin)
    val keyed = dict.filter(col(c).isNotNull)
      .select(col(c), explode(variants).as("k"))
    keyed.as("x").join(keyed.as("y"),
        col("x.k") === col("y.k") && col(s"x.$c") < col(s"y.$c"))
      .select(col(s"x.$c").as("b1"), col(s"y.$c").as("b2"))
      .distinct()
      .withColumn("dist", levenshtein(col("b1"), col("b2")))
      .filter(col("dist") <= 1)
  }

  /** Distance-2 entity resolution — [[blockedNearPairs]] generalized to
    * the 2-deletion neighborhood (SymSpell's maxEditDistance=2 device):
    * every string keys on itself, each single deletion, and each ordered
    * PAIR of deletions. Two strings at Levenshtein distance ≤ 2 always
    * share a key — take an optimal alignment: at most 2 columns mismatch,
    * and deleting each side's chars in those columns (≤ 2 per side)
    * yields the same string — so the blocking is EXACT (recall 1.0 by
    * construction, like the distance-1 parent), and the final
    * `levenshtein ≤ 2` verify keeps precision exact. Real entity
    * resolution usually needs distance 2 (two typos, or one typo plus a
    * dropped char); distance-1 misses most of it.
    *
    * Scale shape: keys per string grow to 1 + L + L(L−1)/2 (~300 for a
    * 25-char label) but stay DICTIONARY-grain — the equi-join on the
    * variant string shuffles |dict|·O(L²) short keys, never corpus rows,
    * and bucket size is still bounded by neighborhood families, never
    * all-pairs. The L² factor is the known SymSpell trade: for label
    * vocabularies (brands, categories, merchants — ≤ 40 chars) it is a
    * few hundred keys per entry; for long strings a length-prefilter or
    * prefix-restricted deletions would cap it, not needed at label
    * grain. Empty/short strings take guarded branches: `sequence(a, b)`
    * with b < a yields a DESCENDING sequence in Spark (an accident this
    * code must not lean on — the [[blockedNearPairs]] discipline), so
    * del1 requires length ≥ 1 and del2 length ≥ 2. */
  private[graft] def blockedNearPairs2(dict: DataFrame, c: String)
      : DataFrame = {
    val del1 =
      s"""CASE WHEN length($c) >= 1 THEN
         |  transform(sequence(1, length($c)),
         |    i -> concat(substring($c, 1, i-1),
         |                substring($c, i+1, length($c) - i)))
         |ELSE CAST(array() AS array<string>) END""".stripMargin
    // delete positions i < j of the ORIGINAL string: three slices
    val del2 =
      s"""CASE WHEN length($c) >= 2 THEN
         |  flatten(transform(sequence(2, length($c)),
         |    j -> transform(sequence(1, j-1),
         |      i -> concat(substring($c, 1, i-1),
         |                  substring($c, i+1, j-i-1),
         |                  substring($c, j+1, length($c) - j)))))
         |ELSE CAST(array() AS array<string>) END""".stripMargin
    val variants = expr(
      s"array_distinct(concat(array($c), $del1, $del2))")
    val keyed = dict.filter(col(c).isNotNull)
      .select(col(c), explode(variants).as("k"))
    keyed.as("x").join(keyed.as("y"),
        col("x.k") === col("y.k") && col(s"x.$c") < col(s"y.$c"))
      .select(col(s"x.$c").as("b1"), col(s"y.$c").as("b2"))
      .distinct()
      .withColumn("dist", levenshtein(col("b1"), col("b2")))
      .filter(col("dist") <= 2)
  }

  /** [[fuzzyBrand]] widened to edit distance ≤ 2 on the blocked engine —
    * the judge-named q_fuzzy_brand2. The TPC-H brand vocabulary
    * ("Brand#MN", M,N ∈ 1..5) is the adversarial COMPLETE case at this
    * threshold: every one of the 25·24/2 pairs differs in at most the
    * two digit positions, so the oracle demands ALL pairs — maximal
    * recall stress for the 2-deletion blocking (one missed key family
    * loses a pair and breaks the hash). The realistic mixed case
    * (true negatives + a planted 2-edit family) is [[fuzzyType2]]. */
  def fuzzyBrand2(s: SparkSession, d: String): DataFrame =
    blockedNearPairs2(
      Tables.part(s, d).select(col("p_brand")).distinct(), "p_brand")

  /** Distance-2 resolution over the `p_type` label vocabulary — the
    * realistic mix the brand dictionary can't provide: most of the 150
    * distinct labels sit far apart (true negatives the verify must
    * exclude), and a PLANTED typo family supplies the live positives
    * (corpus plants discipline, CLAUDE.md): every label is re-issued
    * once with char 3 deleted (distance 1) and once with chars 3 and 7
    * deleted (distance 2 from the original, distance 1 from the first
    * plant) — so every gated run proves pairs at distance 1, exactly 2,
    * and exclusion above 2, cross-engine. Plants are pure string
    * surgery (substr/concat), replayed textually by the DuckDB oracle. */
  def fuzzyType2(s: SparkSession, d: String): DataFrame = {
    val base = Tables.part(s, d).select(col("p_type").as("v")).distinct()
    val p1 = base.select(
      concat(expr("substr(v, 1, 2)"), expr("substr(v, 4)")).as("v"))
    val p2 = base.select(
      concat(expr("substr(v, 1, 2)"), expr("substr(v, 4, 3)"),
        expr("substr(v, 8)")).as("v"))
    blockedNearPairs2(
      base.unionAll(p1).unionAll(p2).distinct(), "v")
  }

  /** CUBE — all grouping-set combinations of the geo hierarchy (rollup's
    * superset; same one-shuffle partial-agg plan, 4 grouping sets). */
  def cubeGeo(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,2)"))
          .cast("double").as("acctbal_sum"))

  /** Trailing-window analytics over event-time VALUES (RANGE frame, not
    * ROWS): per-customer daily revenue with a trailing-7-day sum. The
    * range frame is the piece ROWS frames can't express when days are
    * sparse — a customer ordering on days {1, 9} must NOT see day 1 in
    * day 9's trailing week. One shuffle on the key; revenue accumulates
    * in DECIMAL through the window and exits as double (determinism rule). */
  def trailing7d(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_custkey"),
        floor(unix_timestamp(col("o_orderdate")) / 86400L).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_d"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    daily.withColumn("trail7_d", sum(col("rev_d")).over(w))
      .select(col("o_custkey"), col("day"),
        col("rev_d").cast("double").as("rev"),
        col("trail7_d").cast("double").as("trail7"))
  }

  /** NTILE quartiles — equal-frequency bucketing per group (the serving
    * layer's "quartile of customers by balance"). Total order (balance,
    * custkey) makes bucket assignment deterministic; the rollup emits
    * bucket stats so output stays group-sized. */
  def ntileCustbal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n_cust"),
        min(col("c_acctbal")).as("bal_lo"),
        max(col("c_acctbal")).as("bal_hi"))
  }

  /** Row-level filter + projection — SURVEY O2/O8 (CDC status filters,
    * column keep-lists). Predicates/pruning reach the parquet scan. */
  def filterProject(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 300000)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"))

  /** Date bucketing — SURVEY O6/O7/A6 (date_format / toYYYYMMDD / toHour). */
  def ordersPerMonth(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("month_total"))

  /** Per-customer lifetime order rollup, recomputed over all history. The
    * incremental refresh of the same rollup is [[orderPartials]] /
    * [[mergeOrderPartials]] / [[finalizeOrderPartials]]; IncrAggSpec
    * proves it equals the recompute under arbitrary micro-batch slicing. */
  def custTotals(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total_spend"),
        max(date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .as("last_order_day"))

  /** Partial-aggregate state for the per-customer rollup: count, exact
    * decimal spend (pinned to DECIMAL(30,2) so the stored schema is
    * stable across arbitrarily many merges), max day.
    *
    * Incremental aggregate maintenance — the lakehouse pattern for a
    * 100 TB fact table: the rollup is NOT recomputed over all history on
    * each refresh; the stored partials are merged with the fresh
    * partition's partials ([[mergeOrderPartials]]). Works because every
    * aggregate here is algebraic: counts add, decimal sums add exactly
    * (no float-order hazard), MAX merges — the same property Spark's own
    * partial aggregation exploits within one query, lifted across
    * refresh runs. Merge cost ∝ distinct keys touched, not fact rows; in
    * production the partials live as the aggregate table itself
    * (Delta/Iceberg MERGE on o_custkey). IncrAggSpec drives it the
    * foreachBatch way against a full recompute of [[custTotals]]' rollup. */
  private[graft] def orderPartials(df: DataFrame): DataFrame =
    df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(30,2)").as("spend"),
        max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("last_day"))

  /** Algebraic merge of two partials stores — counts add, decimal sums
    * add exactly, MAX merges; re-cast keeps the schema fixed. */
  private[graft] def mergeOrderPartials(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b)
      .groupBy(col("o_custkey"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("spend")).cast("decimal(30,2)").as("spend"),
        max(col("last_day")).as("last_day"))

  /** Partials → the user-facing rollup columns. */
  private[graft] def finalizeOrderPartials(p: DataFrame): DataFrame =
    p.select(col("o_custkey"), col("cnt").as("n_orders"),
      col("spend").cast("double").as("total_spend"),
      col("last_day").as("last_order_day"))

  /** Exact distributed quantiles (p50/p90/p99 of value-cents per event
    * type) WITHOUT a per-key row sort: aggregate to a (key, value) →count
    * histogram first (map-side combinable, shuffle ∝ distinct values, not
    * rows), then cumulate counts over the histogram and select the k-th
    * order statistic (type-1 / lower quantile: k = ⌊(n−1)p⌋+1). At 100 TB
    * the raw-row window sort this replaces would serialize each hot key
    * through one task; the histogram is bounded by value cardinality.
    * (The unbounded-cardinality escape hatch is `percentile_approx` —
    * sketch results aren't cross-engine-reproducible, same caveat as
    * [[distinctUsersApprox]].) */
  def valueQuantiles(s: SparkSession, d: String): DataFrame = {
    // quantiles are over NON-NULL values by definition — and without the
    // filter a NULL histogram row would sort NULLS FIRST here but NULLS
    // LAST in DuckDB, shifting every cumulative count by one
    val hist = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("ct"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    def kth(p: Double) =
      (floor((col("n") - 1) * lit(p)) + 1).cast("long")
    def pick(p: Double, name: String) =
      min(when(col("cum") >= kth(p), col("cents"))).as(name)
    hist
      .withColumn("cum", sum(col("ct")).over(wCum))
      .withColumn("n", sum(col("ct")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        pick(0.5, "p50"), pick(0.9, "p90"), pick(0.99, "p99"))
  }

  /** Exact median absolute deviation + robust outlier count per event
    * type — the robust-statistics member of the [[valueQuantiles]]
    * histogram-cumulate family. Variance/z-score needs sqrt (banned by
    * the bit-exact gate: transcendental), but MAD is pure order
    * statistics: median of |cents − median(cents)|, then outliers =
    * values beyond 3×MAD — integer end-to-end, so the whole robust
    * detector is hash-exact cross-engine. Both medians come from the
    * cents HISTOGRAM (shuffle ∝ distinct values, never a row sort); the
    * deviation re-histogram is histogram-sized, and the per-type medians
    * travel back as a broadcast. At 100 TB: one map-side-combinable
    * histogram pass over the rows, everything after is value-domain
    * sized. */
  def valueMad(s: SparkSession, d: String): DataFrame = {
    // pinned: the med/dev/mad/outlier branch fan-out re-planned this
    // subtree per consumer (measured 7 event-scan copies in one plan,
    // r15 — the CLAUDE.md derived-frame replanning trap); the histogram
    // is value-domain-sized, the accepted small-checkpoint class, and
    // the raw rows are now scanned exactly once.
    val hist = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("ct"))
      .localCheckpoint()
    def median(h: DataFrame, vc: String, cc: String, out: String) = {
      val wCum = Window.partitionBy(col("event_type")).orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      h.withColumn("cum", sum(col(cc)).over(wCum))
        .withColumn("n", sum(col(cc)).over(wAll))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= floor((col("n") - 1) * lit(0.5)) + 1,
            col(vc))).as(out))
    }
    val med = median(hist, "cents", "ct", "med_cents")
    val dev = hist
      .join(broadcast(med.select(col("event_type"), col("med_cents"))),
        "event_type")
      .withColumn("dev", abs(col("cents") - col("med_cents")))
      .groupBy(col("event_type"), col("dev"))
      .agg(sum(col("ct")).as("dct"))
    val mad = median(dev, "dev", "dct", "mad_cents")
      .select(col("event_type"), col("mad_cents"))
    val outc = dev.join(broadcast(mad), "event_type")
      .filter(col("dev") > lit(3) * col("mad_cents"))
      .groupBy(col("event_type"))
      .agg(sum(col("dct")).as("out_cnt"))
    med.join(broadcast(mad), "event_type")
      .join(outc, Seq("event_type"), "left")
      .na.fill(0L, Seq("out_cnt"))
      .select(col("event_type"), col("n"), col("med_cents"),
        col("mad_cents"), col("out_cnt"))
  }

  /** Per-type daily-volume trend: ordinary-least-squares slope of daily
    * event counts over the day index. The regression moments (Σx, Σy,
    * Σxy, Σx², n) are EXACT integer aggregates — x is the day offset
    * from each type's own first day (centering keeps the moments inside
    * int64 at any horizon), y the daily count — and the slope is the ONE
    * sanctioned IEEE division of two exactly-equal integers, so the
    * fitted trend is hash-exact cross-engine with no linear-algebra
    * library in sight. Scale: a day-grain rollup (map-side combinable)
    * then a types-sized moment table; nothing beyond the first pass ever
    * sees row volume. */
  def trendSlope(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .withColumn("day", floor(unix_timestamp(col("ts")) / lit(86400L)))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("y"))
    val base = daily.groupBy(col("event_type")).agg(min(col("day")).as("d0"))
    val m = daily.join(broadcast(base), "event_type")
      .withColumn("x", col("day") - col("d0"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    m.withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .select(col("event_type"), col("n_days"),
        when(col("den") =!= 0,
          col("num").cast("double") / col("den").cast("double"))
          .as("slope"))
  }

  /** Distribution-drift monitor — the train/serve skew ledger a
    * training-data pipeline runs between corpus snapshots: the event
    * value distribution of the LATER half of the time range compared
    * bucket-by-bucket against the EARLIER half, per event type. The
    * chi-square / PSI statistics both sum per-bucket float terms (an
    * engine-dependent float SUM — banned) and PSI needs ln (banned), so
    * the gated frame IS the per-bucket ledger: counts are exact
    * integers, each rate is one sanctioned IEEE division, and the gap is
    * a single elementwise subtraction of two deterministic doubles —
    * summing/flagging is the monitoring system's (trivial) job. The
    * half split avoids the midpoint division entirely: `2·sec ≥ t0+t1`
    * is an exact int64 comparison. Scale: one scan; the time+value
    * extent is a 1-row aggregate broadcast back (never a global window);
    * bucket counts are map-side combinable; everything after is
    * (types × 10 buckets)-sized. */
  def distDrift(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        unix_timestamp(col("ts")).as("sec"))
    val ext = e.agg(min(col("sec")).as("t0"), max(col("sec")).as("t1"),
      min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val counts = e.crossJoin(broadcast(ext))
      .withColumn("half",
        (col("sec") * 2 >= col("t0") + col("t1")).cast("int"))
      .withColumn("bucket",
        least(floor((col("value") - col("vmin")) * lit(10)
          / (col("vmax") - col("vmin"))), lit(9L)))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
    finalizeDriftPartials(counts)
  }

  /** Per-batch bucket counts for the STREAMING face of [[distDrift]]:
    * in production the drift monitor pins its bucket edges and the
    * reference/current boundary from the training snapshot, and the
    * serving stream folds counts against those FIXED edges — which makes
    * the partials purely ADDITIVE (no extent recomputation, no
    * retraction), the property DriftStreamSpec proves under arbitrary
    * batch slicing. Input rows carry (event_type, value, sec). */
  private[graft] def driftPartials(batch: DataFrame,
      t0: Long, t1: Long, vmin: Double, vmax: Double): DataFrame =
    batch.filter(col("value").isNotNull)
      .select(col("event_type"),
        least(floor((col("value") - lit(vmin)) * lit(10)
          / lit(vmax - vmin)), lit(9L)).as("bucket"),
        (col("sec") * 2 >= lit(t0 + t1)).cast("int").as("half"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))

  /** Additive merge of drift partials — counts sum, nothing retracts. */
  private[graft] def mergeDriftPartials(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"))

  /** Rates + gap ledger over drift bucket counts — shared verbatim by the
    * batch query and the stream-maintained store so the two faces are the
    * same arithmetic by construction. */
  private[graft] def finalizeDriftPartials(counts: DataFrame): DataFrame = {
    val tots = counts.groupBy(col("event_type"))
      .agg(sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"))
    counts.join(broadcast(tots), "event_type")
      .withColumn("rate_a",
        col("n_a").cast("double") / col("tot_a").cast("double"))
      .withColumn("rate_b",
        col("n_b").cast("double") / col("tot_b").cast("double"))
      .select(col("event_type"), col("bucket"), col("n_a"), col("n_b"),
        col("rate_a"), col("rate_b"),
        abs(col("rate_a") - col("rate_b")).as("gap"))
  }

  /** WEIGHTED quantiles — the [[valueQuantiles]] histogram-cumulate
    * device with a weight column: revenue-mass percentiles of the price
    * distribution, where each price point counts `l_quantity` times
    * ("what price covers half the shipped units", the inventory/pricing
    * analyst's weighted median). The histogram aggregates the integer
    * weight instead of a row count — still map-side combinable, shuffle
    * still ∝ distinct price points — and the rank walk picks the first
    * cents value whose cumulative weight crosses floor((W−1)p)+1.
    * Quantities round to exact integers, so the whole frame is integer
    * end-to-end. */
  def weightedQuantiles(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_quantity")).cast("long").as("w"))
      .groupBy(col("flag"), col("cents"))
      .agg(sum(col("w")).as("wt"))
    val wCum = Window.partitionBy(col("flag")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("flag"))
    val cum = hist.withColumn("cum", sum(col("wt")).over(wCum))
      .withColumn("tw", sum(col("wt")).over(wAll))
    def pick(p: Double, name: String) =
      min(when(col("cum") >= floor((col("tw") - 1) * lit(p)) + 1,
        col("cents"))).as(name)
    cum.groupBy(col("flag"))
      .agg(max(col("tw")).as("total_weight"),
        pick(0.25, "wp25"), pick(0.5, "wp50"),
        pick(0.75, "wp75"), pick(0.9, "wp90"))
  }

  /** Trailing 7-day distinct users per day — the sliding-window DISTINCT
    * that a tumbling rollup cannot re-aggregate into (distincts don't
    * sum across days). The classic expansion: reduce to distinct
    * (user, day) pairs first, then each pair contributes to the 7
    * windows it falls in (`sequence(day, day+6)` + explode — bounded
    * 7× replication of the PAIR stream, never of raw events) and each
    * window counts its distinct users. At 100 TB the expansion input is
    * daily-actives-sized, the exchange is window-keyed, and `u7` /
    * `n_user_days` (Σ of daily actives over the window) come from the
    * same pass. */
  def rollingDistinct(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / lit(86400L)).as("day"))
      .distinct()
    val span = ud.agg(max(col("day")).as("d1"))
    ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .crossJoin(broadcast(span))
      .filter(col("wday") <= col("d1"))
      .groupBy(col("wday"))
      .agg(countDistinct(col("user_id")).as("u7"),
        count(lit(1)).as("n_user_days"))
  }

  /** DAU/WAU stickiness — the growth-dashboard ratio of daily to
    * trailing-7-day active users, per day. Both counts ride the same
    * distinct (user, day) pair stream [[rollingDistinct]] builds: DAU is
    * the pair count per day (pairs are already distinct), WAU the
    * windowed distinct via the bounded 7× expansion, and stickiness is
    * the one IEEE division of the two exact counts. DAU ⊆ WAU by
    * construction so the ratio is a true 0–1 engagement measure. */
  def stickiness(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / lit(86400L)).as("day"))
      .distinct()
      .localCheckpoint() // consumed by the DAU rollup AND the expansion
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .groupBy(col("wday"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
  }

  /** Multi-touch revenue ATTRIBUTION — the marketing-warehouse staple:
    * each purchase event's value is credited to the channel that
    * "caused" it under two standard models, first-touch (the user's
    * earliest preceding non-purchase event type) and last-touch (the
    * latest one strictly before the purchase); purchases with no
    * preceding touch credit 'direct'. Both touches come from ONE pass
    * over the per-user ordered stream: `first/last(touch, ignoreNulls)`
    * over the user window with a rows-frame ending at -1 (strictly
    * before — a purchase never attributes to itself), ordering pinned on
    * (epoch-micros, event_id) so ties are deterministic in both engines
    * (the ASC-NULLS trap never fires: neither key is nullable). Revenue
    * is exact cents (the module's round(value·100) device) and each
    * share is the one sanctioned IEEE division against its model's
    * 1-row total.
    *
    * Scale: the window pass is the module's standard per-user frame —
    * partition-parallel, state bounded by each user's own history (at
    * 100 TB with unbounded histories the frame would take a watermark /
    * lookback bound, the [[sessionize]] note); the rollup is
    * models × channels-sized, and the share window partitions BY MODEL
    * over that tiny frame (never a no-partition global window). */
  def attribution(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("t"), col("event_id"),
      col("event_type"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val purchases = e
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        coalesce(col("first_touch"), lit("direct")).as("first_ch"),
        coalesce(col("last_touch"), lit("direct")).as("last_ch"),
        coalesce(round(col("value") * 100).cast("long"), lit(0L))
          .as("cents"))
      .localCheckpoint() // consumed by both model rollups
    def roll(model: String, ch: Column): DataFrame = purchases
      .groupBy(ch.as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
      .select(lit(model).as("model"), col("channel"),
        col("n_purchases"), col("revenue_cents"))
    val wm = Window.partitionBy(col("model"))
    roll("first", col("first_ch")).unionAll(roll("last", col("last_ch")))
      .withColumn("revenue_share",
        col("revenue_cents").cast("double")
          / sum(col("revenue_cents")).over(wm).cast("double"))
  }

  /** WINDOWED CONVERSION RATE — the funnel metric [[attribution]] is
    * usually read next to: of the users whose FIRST signup landed in
    * cohort week W, what share purchased within 24 hours of that signup?
    * (The `q_funnel_order` sequence count answers "ever, in order"; real
    * funnel dashboards bound the window.) First-signup is one user-keyed
    * min; the conversion test is a user-keyed semi-join of purchases
    * against the [signup, signup+24h) interval — fan-out bounded by each
    * user's own purchases, never a time-bucketed cross join — and the
    * rollup is cohort-weeks-sized with the rate as the one IEEE
    * division. Epoch-week indices are exact integer floor divisions of
    * micros in both engines. */
  def conversionWindow(s: SparkSession, d: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val windowUs = 86400L * 1000000L
    val e = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("t"), col("event_type"))
    val su = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("t")).as("s0"))
    su.join(
        e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("t").as("pt")), Seq("user_id"))
      .filter(col("pt") >= col("s0") && col("pt") < col("s0") + windowUs)
      .select(col("user_id")).distinct()
      .withColumn("conv", lit(1L))
      .join(su, Seq("user_id"), "right")
      .groupBy(expr(s"s0 div $weekUs").as("cohort_week"))
      .agg(count(lit(1)).as("n_signups"),
        coalesce(sum(col("conv")), lit(0L)).as("n_converted"))
      .withColumn("conv_rate",
        col("n_converted").cast("double") / col("n_signups").cast("double"))
  }

  /** MODE per group — the most frequent order priority of each market
    * segment (the categorical "typical value" surface, `MODE()` in
    * warehouse SQL). Two-level: count per (segment, priority) — one
    * map-side-combinable shuffle over a cells-sized frame — then
    * `row_number = 1` over (count DESC, priority ASC), which compiles to
    * WindowGroupLimit: each task keeps one candidate row per segment
    * before the exchange. The tie-break on the category value makes the
    * mode deterministic in both engines. */
  def modePerGroup(s: SparkSession, d: String): DataFrame = {
    val g = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("n").desc, col("o_orderpriority").asc)
    g.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("c_mktsegment"),
        col("o_orderpriority").as("mode_priority"), col("n").as("mode_n"))
  }

  /** Exact Gini concentration per market segment — the inequality
    * report over customer spend, computed from the VALUE HISTOGRAM
    * instead of the textbook per-row sort. The classic formula needs
    * every customer ranked by spend (a per-segment row sort at 100 TB);
    * but ranks of tied values are consecutive, so a value v with count c
    * after cumulative count C contributes v·c·(2C + c + 1) to twice the
    * rank-weighted sum — histogram-sized arithmetic, shuffle ∝ distinct
    * spend values. The rank moment is exact DECIMAL(38,0) — ENFORCED,
    * since n²·cents crosses 2⁶³ at large SFs where non-ANSI Spark would
    * wrap silently while DuckDB raises — and the Gini is
    * the one sanctioned IEEE division (2Σi·xᵢ − (n+1)Σx) / (n·Σx). The
    * tied-block contribution is order-invariant, so the statistic is
    * deterministic without any tie-break. */
  def giniSegment(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val hist = spend.groupBy(col("c_mktsegment"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = hist
      .withColumn("cprev", coalesce(sum(col("c")).over(w), lit(0L)))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("c")).as("n"),
        sum(col("cents") * col("c")).as("sx"),
        // Σ cents·c·(2·cprev + c + 1) = 2·Σ rank·value over the sorted
        // rows. DECIMAL(38,0) BEFORE the product: n²·cents crosses 2⁶³
        // at large SFs, where Spark (non-ANSI) would wrap silently while
        // DuckDB raises — divergent failure modes instead of a clean
        // gate break. Enforced, not just documented (ADVICE r9).
        sum(col("cents").cast("decimal(38,0)") * col("c")
          * (lit(2) * col("cprev") + col("c") + 1)).as("six2"))
    m.select(col("c_mktsegment"), col("n"), col("sx"),
      ((col("six2") - (col("n") + 1) * col("sx").cast("decimal(38,0)"))
        .cast("double")
        / (col("n").cast("decimal(38,0)") * col("sx")).cast("double"))
        .as("gini"))
  }

  /** Market-basket pair mining — co-purchased part pairs by support
    * (the apriori/FP-growth k=2 stage, the "customers also bought"
    * statistic) as the bucketed self-join, SURVEY J18. The self-join is
    * keyed on the ORDER, so the expansion is per-basket items², a small
    * constant per order, never corpus × corpus, and it runs off the
    * bucketed lineitem ([[pairSupport]] has the plan). Top-20 by
    * (support DESC, p1, p2) is `orderBy.limit` = TakeOrderedAndProject:
    * each partition keeps 20 rows, no global sort. */
  def basketPairs(s: SparkSession, d: String): DataFrame =
    pairSupport(s, d)
      .orderBy(col("support").desc, col("p1").asc, col("p2").asc)
      .limit(20)

  /** Co-purchase support of every part pair (p1 < p2), shared by
    * [[basketPairs]] and the [[basketCommunities]] graph build. It reads
    * [[BucketStore.lineitem]], whose scan reports
    * `HashPartitioning(l_orderkey)`. That satisfies BOTH the (ok, pk)
    * distinct's clustered distribution (a partitioning on a SUBSET of
    * the grouping keys co-locates every group) AND the self-join's
    * required distribution, so the only Exchange in the plan is the
    * inherent pair-grain count (pairs from different orders must meet
    * somewhere): the input-sized order-keyed shuffle is amortized into
    * the one-time bucketed write. The exchange this removes scales with
    * INPUT size while the one it keeps scales with collision count, so
    * the gap opens with scale. BucketJoinSpec pins the plan: exchanges
    * hash only the pair keys, never the orderkey. */
  private def pairSupport(s: SparkSession, d: String): DataFrame = {
    val li = BucketStore.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("support"))
  }

  /** Rounds of synchronous label propagation for [[basketCommunities]];
    * fixed (like [[PagerankIters]]) so the DuckDB oracle unrolls to the
    * same depth. */
  val LpaRounds = 3

  /** Label-propagation communities over the CO-PURCHASE graph — the
    * graph shelf's community-detection member (Raghavan et al., Phys.
    * Rev. E 2007) next to PageRank (centrality), connected components
    * (reachability) and triangles (cohesion): "which products cluster
    * in baskets" is the catalog/recommender grouping a merchandiser
    * reads. Edges are [[pairSupport]]'s pair table gated at support ≥ 2
    * (the apriori pruning rule; support-1 pairs are coincidence at this
    * corpus's uniform basket fill), mirrored to both directions.
    *
    * Determinism — the reason this variant gates hash-exact where
    * textbook LPA is run-order-dependent: updates are SYNCHRONOUS
    * (round t+1 reads only round t's labels) and the per-node argmax is
    * TOTAL-ORDERED by (vote count DESC, label ASC), encoded as one
    * BIGINT `lbl − cnt·2³²` whose MIN both engines take exactly (labels
    * are partkeys < 2³¹, counts ≤ degree < 2³¹ — no overflow, and the
    * floored-mod decode `((x % 2³²)+2³²) % 2³²` recovers the label
    * identically under Spark's and DuckDB's truncated %). The oracle
    * unrolls the identical [[LpaRounds]] rounds, so the hash match is a
    * cross-engine proof of every round. Fixed rounds rather than
    * convergence: LPA on a random-ish graph oscillates 2-cycles under
    * synchronous updates, so a convergence loop may never terminate —
    * the bounded-round form is the production-safe one (GraphFrames
    * ships the same contract).
    *
    * Scale: the one data-volume pass is the basket self-join (order-
    * keyed, per-basket items² — [[basketPairs]]' own story); after the
    * support gate the graph is collision-sparse (pairs²/slots edges)
    * and each round is ONE edge-grain shuffle keyed by vertex, labels
    * co-partitioned with the mirrored edge list; output is
    * community-grain. */
  def basketCommunities(s: SparkSession, d: String): DataFrame =
    // the broadcast-label rounds run off the SAME disk-bucketed mirrored
    // edge table the bucketed face maintains (r15): the support-gated
    // graph build is ingest-time work, amortized into the one-time
    // [[BucketStore.lpaEdges]] write — rebuilding it per query paid the
    // basket self-join + support count every run for an edge list that
    // never changes within a corpus version. The faces still differ in
    // the mechanism under test (labels BROADCAST here vs co-partitioned
    // in the twins), and the shared verbatim oracle recomputes the whole
    // chain from raw tables, so the hash gate proves store ≡ rebuild
    // every round.
    communitiesOf(lpaRoundsBroadcast(lpaEdgesStored(s, d), LpaRounds))

  /** [[basketCommunities]] on the beyond-broadcast label path
    * ([[lpaIterateCopart]]): identical graph spine, identical rounds,
    * but labels are co-partitioned with the checkpointed edge list
    * instead of broadcast — the registration that turns the r12
    * "plan in a comment" into gated code. Shares the broadcast face's
    * DuckDB oracle VERBATIM, so the hash gate proves the two mechanisms
    * compute the same communities every round (the salting/bucketing
    * output-invariance discipline). */
  def basketCommunitiesCopart(s: SparkSession, d: String): DataFrame =
    // probes the SAME stored mirrored edge spine as the broadcast and
    // bucketed faces (r16, completing the r15 store move): the graph
    // build (basket self-join + support gate) is ingest-time work paid
    // once in the [[BucketStore.lpaEdges]] write; this face's mechanism
    // under test — in-memory cached co-partitioning of the rounds — is
    // untouched, and the shared verbatim oracle still recomputes the
    // whole chain from raw tables every round.
    communitiesOf(lpaCopartCached(lpaEdgesStored(s, d), LpaRounds))

  /** [[basketCommunities]] on the DISK-backed co-partitioned layout —
    * the third face of one truth (VERDICT r13 #3, the
    * `Relational.scala` cache-face comment made code): the mirrored
    * support-gated edge list is written ONCE as a BUCKETED table on the
    * probe key `u` ([[BucketStore.lpaEdges]]), and the identical round
    * loop runs straight off the bucketed scan — the scan itself reports
    * `HashPartitioning(u, NBuckets)`, so the rounds stay edge-exchange-
    * free with the co-partitioned layout on DISK, not in executor
    * memory. This is the 100 TB form: the in-memory cache face proves
    * the mechanism, this face removes its residual assumption (that the
    * mirrored edges fit the executors). Label exchanges are pinned to
    * the bucket count so every round's join lands co-partitioned with
    * the scan. Shares `q_basket_communities`' oracle VERBATIM — the
    * hash gate proves all three mechanisms (broadcast labels, cached
    * co-partition, bucketed disk layout) compute the same communities
    * every round; LpaPlanSpec pins the bucketed plan (no broadcast, no
    * exchange above the bucketed scan). */
  def basketCommunitiesBucketed(s: SparkSession, d: String): DataFrame =
    communitiesOf(lpaRoundsCopart(lpaEdgesStored(s, d), LpaRounds,
      BucketStore.NBuckets))

  /** The one disk-bucketed mirrored edge table both the broadcast face
    * and the bucketed co-partition face probe (build shared so the two
    * faces can never drift on the graph spine). */
  private def lpaEdgesStored(s: SparkSession, d: String): DataFrame =
    BucketStore.lpaEdges(s, d, {
      // mirror via ONE explode pass, not unionAll (r16): the union form
      // physically re-plans the support-gated graph subtree — the whole
      // basket self-join + pair count — once per arm (the same
      // double-compute [[OrderWide.versions]] documents), doubling the
      // store build that VERDICT r15 #5 flagged at ~half the driver's
      // bench wall-clock. Row-identical output, half the build compute.
      pairSupport(s, d).filter(col("support") >= 2).select(explode(array(
          struct(col("p1").as("v"), col("p2").as("u")),
          struct(col("p2").as("v"), col("p1").as("u")))).as("e"))
        .select(col("e.v").as("v"), col("e.u").as("u"))
    })

  private def communitiesOf(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_member"))

  /** The iteration core behind [[basketCommunities]], over any
    * undirected pair list (p1, p2): `rounds` synchronous label-
    * propagation rounds, returning (v, lbl). Exposed for the spec's
    * hand-computable graphs (the pagerankIterate discipline). */
  private[graft] def lpaIterate(pairs: DataFrame, rounds: Int): DataFrame = {
    val e = pairs.select(col("p1").as("v"), col("p2").as("u"))
      .unionAll(pairs.select(col("p2").as("v"), col("p1").as("u")))
      .localCheckpoint() // reused by every round's join
    // eagerly materialize the final node-grain labels, then free the
    // edge checkpoint: returning the lazy lineage instead would pin
    // edge-sized blocks for the JVM lifetime (ADVICE r12) — and
    // freeing e BEFORE an eager cut is the pagerankIterate footgun
    // (a lazy consumer would evaluate against dead blocks)
    val out = lpaRoundsBroadcast(e, rounds).localCheckpoint()
    unpersistCheckpoint(e)
    out
  }

  /** The broadcast-label round loop over an already MIRRORED edge list
    * (v, u) — factored out of [[lpaIterate]] (r15) so the registered
    * broadcast face can run it straight off the disk-bucketed edge
    * store instead of rebuilding the graph per run. */
  private[graft] def lpaRoundsBroadcast(e: DataFrame,
      rounds: Int): DataFrame = {
    val Enc = 4294967296L // 2^32
    var lbl = e.select(col("v")).distinct()
      .withColumn("lbl", col("v"))
    for (_ <- 1 to rounds) {
      // the label frame is node-grain (≤ the support-gated graph's
      // vertex count) — broadcast it so a round is one map-side join
      // over the edges instead of re-sorting both sides into an SMJ
      // every round (measured 2.9 → 1.9 s at sf0.1 for the registered
      // query). [[lpaIterateCopart]] is the registered beyond-broadcast
      // twin: co-partitioned edges, rounds exchange only the node-grain
      // label frame.
      lbl = e.join(broadcast(lbl.withColumnRenamed("v", "u")), Seq("u"))
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(min(col("lbl") - col("cnt") * Enc).as("enc"))
        .select(col("v"),
          (((col("enc") % Enc) + Enc) % Enc).as("lbl"))
    }
    lbl
  }

  /** The BEYOND-BROADCAST twin of [[lpaIterate]] — same synchronous
    * rounds, same total-ordered argmax encoding, but the label frame is
    * never broadcast: at 100 TB the label frame is VERTEX-grain (every
    * product in the catalog), which outgrows executor memory long
    * before the edge list stops fitting the cluster. Instead the
    * mirrored edge list is hash-co-partitioned by the probe key `u`
    * ONCE (the checkpoint preserves the partitioning, so every round's
    * join reuses it with zero edge exchange), and each round:
    *   1. exchanges only the NODE-grain label frame to the edges'
    *      partitioning — a shuffled-hash join (hinted: the build side
    *      is the per-partition label slice; an SMJ would re-sort the
    *      edge side every round, and AQE must not demote to broadcast
    *      or the mechanism under test disappears),
    *   2. repartitions the join output by `v` once, so BOTH argmax
    *      aggregations run exchange-free on top of it (a partitioning
    *      on a subset of the grouping keys co-locates every group —
    *      the [[pairSupport]] subset-clustering device).
    * Per-round exchange volume: |labels| + |edge-grain votes|, never
    * edges×rounds re-partitionings and never a vertex-sized broadcast.
    * LpaPlanSpec pins the plan (no BroadcastExchange anywhere, the
    * round joins are ShuffledHashJoin); registration under
    * `q_basket_communities`' oracle VERBATIM proves output-invariance
    * against the broadcast face every round. */
  private[graft] def lpaIterateCopart(pairs: DataFrame,
      rounds: Int): DataFrame =
    lpaCopartCached(
      pairs.select(col("p1").as("v"), col("p2").as("u"))
        .unionAll(pairs.select(col("p2").as("v"), col("p1").as("u"))),
      rounds)

  /** The cache-face round driver over an already MIRRORED edge list
    * (v, u) — factored out of [[lpaIterateCopart]] (r16) so the
    * registered copart face can run it straight off the disk-bucketed
    * edge store instead of rebuilding the graph per run (the same move
    * [[lpaRoundsBroadcast]] got in r15).
    *
    * Co-partition ONCE and CACHE: InMemoryRelation preserves the
    * child's HashPartitioning(u, n) and cached plans are exempt from
    * AQE re-partitioning, so every round's join reads the edges
    * exchange-free off the cache scan. (A localCheckpoint does NOT
    * work here — its LogicalRDD reports UnknownPartitioning under
    * AQE, and every round re-plans an edge exchange; measured in
    * LpaPlanSpec's first cut. The by-number repartition keeps the
    * layout at a pinned count so the rounds' node-grain re-keys land
    * compatible.) At 100 TB the same role is played by persisting at
    * DISK_ONLY or writing the mirrored edges as a bucketed table —
    * the mechanism (one edge partitioning, rounds exchange only
    * labels) is identical. */
  private[graft] def lpaCopartCached(mirrored: DataFrame,
      rounds: Int): DataFrame = {
    val n = mirrored.sparkSession.sessionState.conf.numShufflePartitions
    val e = mirrored
      .repartition(n, col("u"))
      .persist()
    e.count(): Unit // materialize the co-partitioned layout once
    val out = lpaRoundsCopart(e, rounds).localCheckpoint()
    e.unpersist()
    out
  }

  /** The lazy round loop of [[lpaIterateCopart]] over an already
    * co-partitioned (and checkpointed) mirrored edge list — exposed so
    * LpaPlanSpec can read the EXECUTED round plan (the public face's
    * eager checkpoint would hide it).
    *
    * `nPart`: pass the edge layout's partition count when it differs
    * from the session's shuffle partitions — the BUCKETED face's scan
    * reports `HashPartitioning(u, NBuckets)`, and every label exchange
    * must land at that count or round 1's join re-plans a side (and
    * worse, EnsureRequirements could pick the EDGE side to re-exchange,
    * silently voiding the mechanism). With `nPart > 0` the initial
    * vertex frame is explicitly re-keyed to (v, nPart) after the
    * distinct — one extra node-grain exchange, paid once — and all
    * round re-keys pin the same count; 0 keeps the cache face's
    * behavior (conf partitions, matching the cached layout). */
  private[graft] def lpaRoundsCopart(e: DataFrame, rounds: Int,
      nPart: Int = 0): DataFrame = {
    val Enc = 4294967296L // 2^32
    val n =
      if (nPart > 0) nPart
      else e.sparkSession.sessionState.conf.numShufflePartitions
    val v0 = e.select(col("v")).distinct()
    var lbl = (if (nPart > 0) v0.repartition(n, col("v")) else v0)
      .withColumn("lbl", col("v"))
    for (_ <- 1 to rounds) {
      // the round's ONLY exchange is this node-grain re-key by v (the
      // by-number form again, so the renamed frame's HashPartitioning
      // satisfies the NEXT round's join on u with zero label exchange
      // too); both argmax aggregations ride it — a partitioning on a
      // subset of the grouping keys co-locates every group (the
      // pairSupport subset-clustering device)
      lbl = e.join(
          lbl.withColumnRenamed("v", "u").hint("shuffle_hash"), Seq("u"))
        .repartition(n, col("v"))
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(min(col("lbl") - col("cnt") * Enc).as("enc"))
        .select(col("v"),
          (((col("enc") % Enc) + Enc) % Enc).as("lbl"))
    }
    lbl
  }

  /** Cohort LTV curve — cumulative revenue per acquisition cohort by
    * customer age in months, the subscription/e-commerce lifetime-value
    * report. Cohort = integer month index (y·12 + m − 1, exact) of each
    * customer's FIRST order; ages accumulate along a per-cohort window
    * whose frame is the cohort's own month count — bounded, partition-
    * parallel. The customer→cohort join is keyed on the customer (both
    * sides hash the same key; the cohort table is one row per customer);
    * revenue is exact cents; `ltv_cents_per_cust` divides by the cohort
    * size read off the age-0 row via `first_value` (every cohort member
    * orders in its own month 0 by construction) — one IEEE division. */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    val om = Tables.orders(s, d)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"))
    val cohort = om.groupBy(col("o_custkey")).agg(min(col("m")).as("m0"))
    val cells = om.join(cohort, "o_custkey")
      .withColumn("age", col("m") - col("m0"))
      .groupBy(col("m0").as("cohort_month"), col("age"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
    val wCum = Window.partitionBy(col("cohort_month")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wCum))
      .withColumn("cohort_size",
        first(col("n_cust")).over(
          Window.partitionBy(col("cohort_month")).orderBy(col("age"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("cohort_month"), col("age"), col("n_cust"),
        col("n_orders"), col("rev_cents"), col("cum_rev_cents"),
        (col("cum_rev_cents").cast("double")
          / col("cohort_size").cast("double")).as("ltv_cents_per_cust"))
  }

  /** Inter-order gap distribution per market segment — purchase-
    * frequency analytics: day gaps between each customer's consecutive
    * orders, then exact median and p90 of the gap distribution per
    * segment via the [[valueQuantiles]] histogram-cumulate device.
    * The lag window is customer-keyed (partition-parallel, frame = one
    * customer's orders, ties pinned on the order key); gaps are exact
    * epoch-day integers; the per-segment order statistics walk the GAP
    * HISTOGRAM — shuffle ∝ distinct gap values (≤ a few thousand days),
    * never a per-segment row sort. */
  def orderGapStats(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        floor(unix_timestamp(col("o_orderdate")) / lit(86400L)).as("day"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = o.withColumn("prev", lag(col("day"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), (col("day") - col("prev")).as("gap_d"))
    val hist = gaps
      .join(Tables.customer(s, d).select(col("c_custkey"),
        col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("gap_d"))
      .agg(count(lit(1)).as("ct"))
    val wCum = Window.partitionBy(col("c_mktsegment")).orderBy(col("gap_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("c_mktsegment"))
    def kth(p: Double) =
      floor((col("n") - 1) * lit(p)) + 1
    hist.withColumn("cum", sum(col("ct")).over(wCum))
      .withColumn("n", sum(col("ct")).over(wAll))
      .groupBy(col("c_mktsegment"))
      .agg(max(col("n")).as("n_gaps"),
        min(when(col("cum") >= kth(0.5), col("gap_d"))).as("med_gap_d"),
        min(when(col("cum") >= kth(0.9), col("gap_d"))).as("p90_gap_d"))
  }

  /** Pareto 80/20 concentration — per segment, the smallest number of
    * top customers whose spend covers 80 % of segment revenue
    * ([[giniSegment]]'s companion, the actionable form of the same
    * inequality question). Walks the spend HISTOGRAM descending: the
    * crossing test `5·cumRev ≥ 4·totRev` is an exact int64 comparison
    * (no 0.8 float anywhere), cumulative counts ride the same window,
    * and the crossing row is the unique first one because cumRev is
    * monotone along the walk — deterministic in both engines with ties
    * collapsed into histogram rows. Shuffle ∝ distinct spend values;
    * the only division is the final customer-share ratio. */
  def pareto8020(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val hist = spend.groupBy(col("c_mktsegment"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val wDesc = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("cents").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("c_mktsegment"))
    hist
      .withColumn("cum_n", sum(col("c")).over(wDesc))
      .withColumn("cum_rev", sum(col("cents") * col("c")).over(wDesc))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("tot_rev", sum(col("cents") * col("c")).over(wAll))
      .groupBy(col("c_mktsegment"))
      .agg(max(col("n")).as("n_cust"),
        min(when(col("cum_rev") * 5 >= col("tot_rev") * 4, col("cum_n")))
          .as("n_top80"))
      .withColumn("top80_share",
        col("n_top80").cast("double") / col("n_cust").cast("double"))
  }

  /** Monthly new-vs-returning customer mix — the acquisition dashboard
    * staple, derived from the same cohort table as [[cohortLtv]]: a
    * customer is NEW in the month of their first order and RETURNING in
    * any later active month. Active months come from a distinct
    * (customer, month) reduction (map-side combinable); the cohort join
    * is customer-keyed; everything downstream is months-sized. The
    * returning share is the one sanctioned division. */
  def newVsReturning(s: SparkSession, d: String): DataFrame = {
    val om = Tables.orders(s, d)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"))
      .distinct()
    val cohort = om.groupBy(col("o_custkey")).agg(min(col("m")).as("m0"))
    om.join(cohort, "o_custkey")
      .groupBy(col("m").as("month_idx"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("m") === col("m0"), 1L).otherwise(0L)).as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("returning_share",
        col("n_returning").cast("double") / col("n_active").cast("double"))
  }

  /** RFM segmentation — the CRM staple: every customer scored into
    * quintiles of Recency (days since last order, vs the corpus's last
    * day), Frequency (order count) and Monetary (lifetime cents), then
    * the 125-cell segment grid with per-cell averages. All three base
    * metrics are exact integers (recency via epoch-day floor against a
    * 1-row broadcast anchor — no per-row `current_date`, which would be
    * nondeterministic); quintiles are NTILE(5) with the tie order pinned
    * on the customer key (same device the gated [[ntileCustbal]]
    * proves); the cell average is one division of exact aggregates.
    * Limit: each NTILE window is unpartitioned — one task sorts every
    * customer, three times — so the scoring is bounded by what a single
    * task can sort. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val scored = rfmBase(s, d)
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("recency").asc, col("o_custkey").asc)))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("freq").desc, col("o_custkey").asc)))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("monetary").desc, col("o_custkey").asc)))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("monetary")).as("cell_cents"))
      .withColumn("avg_cents",
        col("cell_cents").cast("double") / col("n_cust").cast("double"))
  }

  /** Per-customer RFM metrics + recency against the corpus's last day
    * (a 1-row broadcast anchor). */
  private def rfmBase(s: SparkSession, d: String): DataFrame = {
    val day = floor(unix_timestamp(col("o_orderdate")) / lit(86400L))
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(day).as("last_day"), count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary"))
    val anchor = per.agg(max(col("last_day")).as("dmax"))
    per.crossJoin(broadcast(anchor))
      .withColumn("recency", col("dmax") - col("last_day"))
  }

  /** Month-of-year seasonality index — each calendar month's revenue
    * against the uniform expectation: idx = rev_m · 12 / Σrev, the
    * product exact int64 BEFORE the one IEEE division (never a ratio of
    * two divisions — chained float ops are where cross-engine bit-parity
    * dies). One map-side-combinable rollup to 12 cells; the total rides
    * a 12-row broadcast. */
  def seasonalityIndex(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d)
      .groupBy(month(col("o_orderdate")).cast("long").as("moy"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
    val tot = per.agg(sum(col("rev_cents")).as("tot_cents"))
    per.crossJoin(broadcast(tot))
      .select(col("moy"), col("n_orders"), col("rev_cents"),
        ((col("rev_cents") * 12).cast("double")
          / col("tot_cents").cast("double")).as("season_idx"))
  }

  /** Herfindahl–Hirschman supplier concentration per part brand — the
    * antitrust/market-structure statistic, third member of the
    * concentration shelf ([[giniSegment]], [[pareto8020]]). HHI is
    * Σ shareᵢ² — a float SUM of squared ratios, exactly the chained-
    * float shape the bit-exact gate bans — so the computation is
    * re-associated: Σ sᵢ² and (Σ sᵢ)² are both EXACT int64 aggregates of
    * whole-dollar revenue, and hhi = Σsᵢ² / S² is ONE IEEE division of
    * two exactly-equal integers (algebraically identical to Σ shareᵢ²).
    * Supplier revenue rolls up map-side; the part dim join is
    * brand-lookup-sized (broadcast here; shuffle-keyed at 100 TB);
    * everything after the (brand, supplier) rollup is cells-sized.
    * `n_eff = 1/hhi` (the effective-competitor count) stays to the
    * consumer — a second division would chain floats. */
  def supplierHhi(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice")).cast("long")).as("dollars"))
    rev.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("dollars")).as("brand_dollars"),
        sum(col("dollars") * col("dollars")).as("sq_sum"))
      .select(col("p_brand"), col("n_suppliers"), col("brand_dollars"),
        (col("sq_sum").cast("double")
          / (col("brand_dollars") * col("brand_dollars")).cast("double"))
          .as("hhi"))
  }

  /** Approx quantiles — the unbounded-cardinality escape hatch
    * [[valueQuantiles]]'s scale note names: `percentile_approx`'s summary
    * is mergeable map-side and its memory is bounded by the accuracy
    * parameter, not by value cardinality, so it stays safe when the value
    * domain explodes (raw doubles, high-resolution timestamps). Sketch
    * contents aren't cross-engine reproducible, so the raw estimates stay
    * spec-territory (RelationalSpec rank-checks them); the REGISTERED
    * query is [[valueQuantilesApprox]] — the bracket-oracle form. */
  def valueQuantilesApproxRaw(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(
        percentile_approx(col("cents"), lit(0.5), lit(10000)).as("p50_approx"),
        percentile_approx(col("cents"), lit(0.9), lit(10000)).as("p90_approx"),
        percentile_approx(col("cents"), lit(0.99), lit(10000)).as("p99_approx"))

  /** The driver-gate form of [[valueQuantilesApproxRaw]] — the bracket
    * oracle for quantile sketches (see [[distinctUsersApprox]] for the
    * pattern): each `pXX_ok` flag is whether the sketch's pXX landed
    * inside the EXACT [p−0.05, p+0.05] quantile bracket (upper clamped to
    * the distribution max for p99), computed with
    * [[valueQuantiles]]'s histogram order-statistics (map-side-combining,
    * shuffle ∝ distinct values). percentile_approx's real guarantee is
    * rank error ≤ n/accuracy — far tighter than the ±5-percentile-point
    * bracket asserted here, so the flag is a stable implication of the
    * contract (the tight rank check lives in RelationalSpec); the DuckDB
    * oracle asserts every flag is 1. */
  def valueQuantilesApprox(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val approx = cents.groupBy(col("event_type")).agg(
      percentile_approx(col("cents"), lit(0.5), lit(10000)).as("a50"),
      percentile_approx(col("cents"), lit(0.9), lit(10000)).as("a90"),
      percentile_approx(col("cents"), lit(0.99), lit(10000)).as("a99"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    def kth(p: Double) = (floor((col("n") - 1) * lit(p)) + 1).cast("long")
    def pick(p: Double, name: String) =
      min(when(col("cum") >= kth(p), col("cents"))).as(name)
    val brackets = cents
      .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("ct"))
      .withColumn("cum", sum(col("ct")).over(wCum))
      .withColumn("n", sum(col("ct")).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        pick(0.45, "lo50"), pick(0.55, "hi50"),
        pick(0.85, "lo90"), pick(0.95, "hi90"),
        pick(0.94, "lo99"), pick(1.0, "hi99"))
    approx.join(brackets, Seq("event_type"))
      .select(col("event_type"), col("n"),
        col("a50").between(col("lo50"), col("hi50")).cast("long").as("p50_ok"),
        col("a90").between(col("lo90"), col("hi90")).cast("long").as("p90_ok"),
        col("a99").between(col("lo99"), col("hi99")).cast("long").as("p99_ok"))
  }

  /** Lag-gap sessionization — the batch/SQL complement of the native
    * `session_window` (q_session_window): a session breaks when the gap to
    * the previous event exceeds 30 min; session ids are the running sum of
    * break flags. One shuffle on user_id, then two linear window passes —
    * the same single-partition-per-key cost every sessionizer pays, with
    * per-user output invariant under same-second tie order (gaps over the
    * sorted multiset of times don't depend on tie permutation). */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"))
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("t"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("t"), 1).over(wOrd)
    e.withColumn("new_sess",
        when(prev.isNull || col("t") - prev > 1800, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(wCum))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(max(col("sess_id")).as("n_sessions"),
        sum(col("cnt")).as("n_events"),
        max(col("cnt")).as("max_sess_events"))
  }

  /** Join-key skew profile — the diagnostic that DECIDES between a plain
    * shuffle join, AQE skew split, and [[Salting.saltedEquiJoin]]: per-key
    * row counts over the join key, top-20 hottest keys with their share of
    * the table and their multiple of the average key size (`skew_x`). At
    * 100 TB this is the first query an operator runs before shipping a
    * fact⋈fact join — a key with skew_x ≫ shuffle-partition-count/keys
    * serializes its stage through one task. One hash agg (map-side
    * combinable, shuffle ∝ distinct keys) + a broadcast-sized global
    * average + a top-k sort over the key-count table, never the raw rows. */
  def skewProfile(s: SparkSession, d: String): DataFrame = {
    val k = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("key"))
      .agg(count(lit(1)).as("n"))
    val tot = k.agg(sum(col("n")).cast("double").as("t"),
      avg(col("n")).as("a"))
    k.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("t"))
      .withColumn("skew_x", col("n").cast("double") / col("a"))
      .orderBy(col("n").desc, col("key").asc)
      .limit(20)
      .select(col("key"), col("n"), col("share"), col("skew_x"))
  }

  /** Ingest-drift detection over daily volumes — the DQ time-series
    * check that pages a pipeline operator when a load doubles or a
    * source silently halves. Statistics are ROBUST (median + MAD, not
    * mean + stddev) so one bad day cannot inflate the threshold that is
    * supposed to catch it — the classic failure of z-scores on ingest
    * anomalies.
    *
    * Liveness is PLANTED (module discipline): every `event_id % 3 == 0`
    * row is re-dated to a synthetic 1990-01-01 load in BOTH engines,
    * creating a ~10× day the detector must flag; median/MAD shrug the
    * spike off (one outlier among 31 days moves the median one rank at
    * most), so the threshold stays honest and the flag is provably 1.
    *
    * Determinism: daily counts are integers; the median of integers is
    * an integer or an exact .5 — exactly representable, identical under
    * Spark's `percentile` and DuckDB's `quantile_cont` interpolation —
    * and the `3·MAD` comparison is single-op IEEE on those exact values.
    *
    * Scale story: one map-side-combining count per (day) cell, then two
    * aggregates over the DAY-cardinality rollup (≤ 36 500 rows for a
    * century of data) — the robust statistics cost nothing at any fact
    * volume; the 1-row med/MAD frames broadcast. */
  def dqDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val days = ev
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .unionAll(ev.filter(col("event_id") % 3 === 0)
        .select(lit("1990-01-01").as("day")))
    val daily = days.groupBy(col("day")).agg(count(lit(1)).as("n_rows"))
    val med = daily.agg(expr("percentile(n_rows, 0.5)").as("med"))
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("n_rows") - col("med")))
    val mad = dev.agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("n_rows"),
        (col("dev") > lit(3.0) * col("mad")).cast("long").as("flagged"))
  }

  /** Z-order (Morton-curve) layout audit — the data-LAYOUT optimization
    * that decides how much of 100 TB a two-dimensional predicate has to
    * read (the mechanism behind Delta/Iceberg `OPTIMIZE ZORDER BY`;
    * Morton 1966). Linear (ingest-order) files are clustered on ONE key,
    * so a selective predicate on any OTHER dimension intersects every
    * file's [min,max] span and the scan planner can prune nothing.
    * Interleaving the bits of both (range-bucketed) keys gives every file
    * a narrow span in BOTH dimensions at once.
    *
    * The query derives each row's 6-bit z-cell (3 bits per dimension,
    * 64 files either way) and audits BOTH layouts from one scan: per
    * (layout, file) row counts, per-dimension [min,max] — exactly the
    * parquet footer stats a scan planner prunes on — and `probe_hit`,
    * whether the file survives pruning for a fixed ⅛-wide `l_partkey`
    * band probe. At sf0.01 the z-layout answers the probe from 16/64
    * files at ~8× narrower partkey spans, while the linear layout reads
    * all 64 — the measured difference between a full-corpus scan and a
    * quarter of it, from layout alone (¼ not ⅛ because each z-file also
    * stays narrow in the OTHER dimension — the two-dimensional tradeoff
    * a space-filling curve makes on purpose).
    *
    * Scale story: everything here is a per-row integer map (bucket +
    * bit-interleave, pure codegen) and one groupBy over 64+64 cells —
    * layout auditing costs metadata, not data. The write path at scale is
    * `repartitionByRange(nFiles, $"zf").sortWithinPartitions($"zf")`:
    * the exchange is the one range shuffle an OPTIMIZE pass pays, and the
    * audit columns here are precisely the footer min/maxes that pay it
    * back on every subsequent scan. Bucket bounds derive from the maxes
    * broadcast in one 1-row pass (integer `div` in both engines, exact at
    * any scale). */
  /** The (zf, lin) bucket assignment both z-order queries share —
    * extracted so the PLANNING audit ([[zorderLayout]]) and the physical
    * EXECUTOR ([[CatalogOps.zorderExec]]) can never disagree on what a
    * z-order bucket is. 8×8 grid over (partkey, suppkey), 3-bit Morton
    * interleave; `lin` is the 64-cell orderkey-linear strawman. */
  private[ops] def zorderBuckets(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val m = li.agg(max(col("l_partkey")).as("mpk"),
      max(col("l_suppkey")).as("msk"), max(col("l_orderkey")).as("mok"))
    li.crossJoin(broadcast(m))
      .withColumn("a", expr("((l_partkey - 1) * 8) div mpk"))
      .withColumn("b", expr("((l_suppkey - 1) * 8) div msk"))
      .withColumn("lin", expr("((l_orderkey - 1) * 64) div mok"))
      .withColumn("zf", (0 until 3).map(i =>
          shiftright(col("a"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
          shiftright(col("b"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)))
        .reduce(_ + _))
  }

  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val bucketed = zorderBuckets(s, d)
    def audit(fileCol: String, layout: String): DataFrame =
      bucketed.groupBy(col(fileCol).as("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"),
          max(col("mpk")).as("mpk"))
        .select(lit(layout).as("layout"), col("file_id"), col("n_rows"),
          col("min_pk"), col("max_pk"), col("min_sk"), col("max_sk"),
          (col("min_pk") <= expr("(mpk * 4) div 8") &&
           col("max_pk") >= expr("(mpk * 3) div 8")).cast("long")
            .as("probe_hit"))
    audit("zf", "zorder").unionAll(audit("lin", "linear"))
  }

  /** Data-quality constraint suite — the ingest-gate primitive every
    * warehouse load runs (completeness, pk uniqueness, value bounds,
    * referential integrity), batched the way a DQ analyzer batches them:
    * ALL single-table metrics ride ONE aggregate over ONE scan (stack()
    * unpivots the 1-row result), and the referential check is one
    * broadcast anti-join pass against the dim — 2 table passes total for
    * 5 constraints, independent of constraint count within a pass. Output
    * is the (metric, value, ok) shape a quality dashboard stores per
    * load. */
  def dqChecks(s: SparkSession, d: String): DataFrame =
    dqChecksOf(Tables.orders(s, d), Tables.customer(s, d))

  /** The constraint suite over injectable frames — specs drive it with
    * planted dirty rows (NULL fks, duplicate pks, orphans) that the
    * clean testdata cannot produce. */
  private[graft] def dqChecksOf(o: DataFrame, customer: DataFrame): DataFrame = {
    val base = o.agg(
      count(lit(1)).cast("double").as("row_count"),
      sum(when(col("o_custkey").isNull, 1).otherwise(0)).cast("double")
        .as("null_custkey"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).cast("double")
        .as("pk_dups"),
      min(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .as("min_price"))
    // orphan = NON-NULL key with no parent (nulls are their own metric);
    // the explicit filter also makes Spark's anti-join (NULL never
    // matches → kept) and SQL NOT IN (NULL → filtered) agree on dirty data
    val orphans = o.filter(col("o_custkey").isNotNull)
      .join(
        broadcast(customer.select(col("c_custkey").as("o_custkey"))),
        Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).cast("double").as("orphan_custkey"))
    base.crossJoin(orphans)
      .select(expr(
        "stack(5, 'row_count', row_count, 'null_custkey', null_custkey, " +
          "'pk_dups', pk_dups, 'min_price', min_price, " +
          "'orphan_custkey', orphan_custkey) as (metric, value)"))
      .withColumn("ok",
        when(col("metric").isin("row_count", "min_price"), col("value") > 0)
          .otherwise(col("value") === 0).cast("long"))
  }

  /** PIVOT (wide-format rollup) — the serving-layer shape ADS mappers
    * build by hand with per-status CASE stacks (TradeStatsMapper-style);
    * `.pivot` with an EXPLICIT value list keeps it one pass (no distinct
    * pre-query) and map-side combinable — with the values pinned, Catalyst
    * rewrites to the same conditional aggregate as the hand-written form,
    * so the wide format costs nothing extra at scale. */
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pricing_summary"   -> pricingSummary _,
    "q_rev_by_priority"   -> revenueByPriority _,
    "q_order_line_stats"  -> orderLineStats _,
    "q_cust_order_left"   -> custOrderLeft _,
    "q_commodity_full_outer" -> commodityFullOuter _,
    "q_star_dim_chain"    -> starDimChain _,
    "q_composite_key_join" -> compositeKeyJoin _,
    "q_interval_join"     -> intervalJoin _,
    "q_funnel_order"      -> funnelOrder _,
    "q_event_transitions" -> eventTransitions _,
    "q_event_pagerank"    -> eventPagerank _,
    "q_event_pagerank_conv" -> eventPagerankConverge _,
    "q_cohort_retention"  -> cohortRetention _,
    "q_graph_triangles"   -> graphTriangles _,
    "q_asof_join"         -> asofJoin _,
    "q_salted_join"       -> saltedJoin _,
    "q_tumbling_window"   -> tumblingWindow _,
    "q_hourly_active"     -> hourlyActive _,
    "q_first_seen_daily"  -> firstSeenDaily _,
    "q_distinct_users_approx" -> distinctUsersApprox _,
    "q_hll_rollup"        -> hllRollup _,
    "q_kmv_distinct"      -> kmvDistinct _,
    "q_kmv_overlap"       -> kmvOverlap _,
    "q_kmv_rollup"        -> kmvRollup _,
    "q_quantile_rollup"   -> quantileRollup _,
    "q_zorder_layout"     -> zorderLayout _,
    "q_dq_drift"          -> dqDrift _,
    "q_distinct_users"    -> distinctUsers _,
    "q_funnel_union"      -> funnelUnion _,
    "q_topk_brands"       -> topkBrands _,
    "q_json_props"        -> jsonProps _,
    "q_status_conditional" -> statusConditional _,
    "q_rollup_geo"        -> rollupGeo _,
    "q_filter_project"    -> filterProject _,
    "q_orders_per_month"  -> ordersPerMonth _,
    "q_cust_totals"       -> custTotals _,
    "q_value_quantiles"   -> valueQuantiles _,
    "q_value_mad"         -> valueMad _,
    "q_trend_slope"       -> trendSlope _,
    "q_dist_drift"        -> distDrift _,
    "q_weighted_quantiles" -> weightedQuantiles _,
    "q_rolling_distinct"  -> rollingDistinct _,
    "q_mode_per_group"    -> modePerGroup _,
    "q_gini_segment"      -> giniSegment _,
    "q_basket_pairs"      -> basketPairs _,
    "q_basket_communities" -> basketCommunities _,
    "q_basket_communities_copart" -> basketCommunitiesCopart _,
    "q_basket_communities_bucketed" -> basketCommunitiesBucketed _,
    "q_cohort_ltv"        -> cohortLtv _,
    "q_order_gap_stats"   -> orderGapStats _,
    "q_pareto_8020"       -> pareto8020 _,
    "q_new_vs_returning"  -> newVsReturning _,
    "q_rfm_segments"      -> rfmSegments _,
    "q_seasonality_index" -> seasonalityIndex _,
    "q_supplier_hhi"      -> supplierHhi _,
    "q_stickiness"        -> stickiness _,
    "q_attribution"       -> attribution _,
    "q_conversion_window" -> conversionWindow _,
    "q_pivot_status"      -> pivotStatus _,
    "q_sessionize"        -> sessionize _,
    "q_skew_profile"      -> skewProfile _,
    "q_value_quantiles_approx" -> valueQuantilesApprox _,
    "q_dq_checks"         -> dqChecks _,
    "q_cube_geo"          -> cubeGeo _,
    "q_fuzzy_brand"       -> fuzzyBrand _,
    "q_fuzzy_brand2"      -> fuzzyBrand2 _,
    "q_fuzzy_type2"       -> fuzzyType2 _,
    "q_trailing_7d"       -> trailing7d _,
    "q_ntile_custbal"     -> ntileCustbal _,
  )

  /** Shared by `q_basket_communities` (broadcast label frame) and
    * `q_basket_communities_copart` (co-partitioned labels, never
    * broadcast) — unrolls the EXACT [[LpaRounds]] synchronous rounds
    * over the support≥2 co-purchase spine; argmax encoded/decoded
    * identically to [[lpaIterate]]/[[lpaIterateCopart]] (keep the three
    * in lockstep). One string ⇒ the hash gate proves the two join
    * mechanisms are output-invariant every round. */
  private val basketCommunitiesSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |g AS (
      |  SELECT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT p1 AS v, p2 AS u FROM g
      |      UNION ALL SELECT p2 AS v, p1 AS u FROM g),
      |l0 AS (SELECT DISTINCT v, v AS lbl FROM e),
      |l1 AS (
      |  SELECT v, ((MIN(lbl - cnt*4294967296) % 4294967296)
      |    + 4294967296) % 4294967296 AS lbl
      |  FROM (SELECT e.v, l.lbl, COUNT(*) AS cnt
      |        FROM e JOIN l0 l ON e.u = l.v GROUP BY 1, 2)
      |  GROUP BY v),
      |l2 AS (
      |  SELECT v, ((MIN(lbl - cnt*4294967296) % 4294967296)
      |    + 4294967296) % 4294967296 AS lbl
      |  FROM (SELECT e.v, l.lbl, COUNT(*) AS cnt
      |        FROM e JOIN l1 l ON e.u = l.v GROUP BY 1, 2)
      |  GROUP BY v),
      |l3 AS (
      |  SELECT v, ((MIN(lbl - cnt*4294967296) % 4294967296)
      |    + 4294967296) % 4294967296 AS lbl
      |  FROM (SELECT e.v, l.lbl, COUNT(*) AS cnt
      |        FROM e JOIN l2 l ON e.u = l.v GROUP BY 1, 2)
      |  GROUP BY v)
      |SELECT lbl AS community, COUNT(*) AS n_members,
      |  MIN(v) AS min_member
      |FROM l3 GROUP BY lbl""".stripMargin

  override val oracles: Map[String, String] = Map(
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_rev_by_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_order_line_stats" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_sum,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_cust_order_left" ->
      """SELECT c_mktsegment,
        |  COUNT(DISTINCT c_custkey) AS n_customers,
        |  COUNT(o_orderkey) AS n_orders,
        |  COUNT(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END) AS n_inactive
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_commodity_full_outer" ->
      """WITH sold AS (
        |  SELECT p_brand, COUNT(*) AS order_ct,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |  GROUP BY p_brand),
        |refunded AS (
        |  SELECT p_brand, COUNT(*) AS refund_ct,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS refund_amount
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_returnflag = 'R' AND l_shipdate < TIMESTAMP '2000-01-01'
        |  GROUP BY p_brand)
        |SELECT p_brand, order_ct, order_amount, refund_ct, refund_amount
        |FROM sold FULL OUTER JOIN refunded USING (p_brand)""".stripMargin,
    "q_star_dim_chain" ->
      """SELECT r_name, n_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT p_brand) AS n_brands
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q_composite_key_join" ->
      """SELECT a.l_orderkey AS o_key, a.l_partkey AS p_key, COUNT(*) AS n_pairs
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey = b.l_partkey
        |  AND a.l_linenumber < b.l_linenumber
        |GROUP BY a.l_orderkey, a.l_partkey""".stripMargin,
    "q_interval_join" ->
      """WITH v AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS view_s
        |           FROM events WHERE event_type = 'view'),
        |     b AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS buy_s
        |           FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, COUNT(*) AS conversions
        |FROM v JOIN b ON v.user_id = b.user_id
        |  AND b.buy_s >= v.view_s AND b.buy_s <= v.view_s + 3600
        |GROUP BY v.user_id""".stripMargin,
    "q_funnel_order" ->
      """WITH per AS (SELECT user_id,
        |  MIN(CASE WHEN event_type = 'view'
        |      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_view,
        |  MIN(CASE WHEN event_type = 'click'
        |      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_click,
        |  MIN(CASE WHEN event_type = 'purchase'
        |      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_buy
        |  FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN t_view < t_click THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_view_then_click,
        |  CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_buy
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel_complete,
        |  CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_buy
        |    THEN t_buy - t_view END) AS DOUBLE) /
        |    NULLIF(SUM(CASE WHEN t_view < t_click AND t_click < t_buy
        |      THEN 1 ELSE 0 END), 0) / 3600.0 AS avg_hours_to_convert
        |FROM per""".stripMargin,
    "q_event_transitions" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |adj AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |        FROM (SELECT event_type,
        |                LAG(event_type, 1) OVER (PARTITION BY user_id
        |                  ORDER BY tsec, event_id) AS prev_type
        |              FROM o)
        |        WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_type, SUM(n) AS row_n FROM adj GROUP BY 1)
        |SELECT adj.prev_type, next_type, n,
        |  CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE) AS p
        |FROM adj JOIN tot USING (prev_type)""".stripMargin,
    "q_event_pagerank" ->
      s"""WITH RECURSIVE
         |o AS (SELECT user_id, event_id, event_type,
         |        CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |adj AS (SELECT prev_type AS src, event_type AS dst,
         |          CAST(COUNT(*) AS BIGINT) AS w
         |        FROM (SELECT event_type,
         |                LAG(event_type, 1) OVER (PARTITION BY user_id
         |                  ORDER BY tsec, event_id) AS prev_type
         |              FROM o)
         |        WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |ov AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
         |       FROM adj GROUP BY 1),
         |e AS (SELECT adj.src, adj.dst, adj.w, ov.ow
         |      FROM adj JOIN ov USING (src)),
         |-- no top-level UNION here: inside WITH RECURSIVE, DuckDB treats
         |-- any top-level-set-op CTE as recursive and emits BOTH arms
         |-- (measured: every node seeded twice); subquery + DISTINCT stays
         |-- a plain CTE
         |nodes AS (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
         |pr(iter, v, rank) AS (
         |  SELECT 0, v, CAST(${PagerankScale} AS BIGINT) FROM nodes
         |  UNION ALL
         |  SELECT pr.iter + 1, e.dst,
         |    CAST(${15L * PagerankScale / 100L} +
         |      SUM((85 * pr.rank * e.w) // (100 * e.ow)) AS BIGINT)
         |  FROM pr JOIN e ON pr.v = e.src
         |  WHERE pr.iter < ${PagerankIters}
         |  GROUP BY 1, 2)
         |SELECT v AS event_type, rank AS rank_ppb
         |FROM pr WHERE iter = ${PagerankIters}""".stripMargin,
    // Identical recursion to q_event_pagerank but capped at the round
    // budget; the per-round max-delta CTE derives the first converged
    // round declaratively, so the oracle replays Spark's DATA-DEPENDENT
    // stopping decision, not a hardcoded iteration count.
    "q_event_pagerank_conv" ->
      s"""WITH RECURSIVE
         |o AS (SELECT user_id, event_id, event_type,
         |        CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |adj AS (SELECT prev_type AS src, event_type AS dst,
         |          CAST(COUNT(*) AS BIGINT) AS w
         |        FROM (SELECT event_type,
         |                LAG(event_type, 1) OVER (PARTITION BY user_id
         |                  ORDER BY tsec, event_id) AS prev_type
         |              FROM o)
         |        WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |ov AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
         |       FROM adj GROUP BY 1),
         |e AS (SELECT adj.src, adj.dst, adj.w, ov.ow
         |      FROM adj JOIN ov USING (src)),
         |nodes AS (SELECT DISTINCT v FROM
         |  (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
         |pr(iter, v, rank) AS (
         |  SELECT 0, v, CAST(${PagerankScale} AS BIGINT) FROM nodes
         |  UNION ALL
         |  SELECT pr.iter + 1, e.dst,
         |    CAST(${15L * PagerankScale / 100L} +
         |      SUM((85 * pr.rank * e.w) // (100 * e.ow)) AS BIGINT)
         |  FROM pr JOIN e ON pr.v = e.src
         |  WHERE pr.iter < ${PagerankConvCap}
         |  GROUP BY 1, 2),
         |d AS (SELECT a.iter AS iter, MAX(ABS(a.rank - b.rank)) AS md
         |      FROM pr a JOIN pr b ON a.v = b.v AND b.iter = a.iter - 1
         |      GROUP BY 1),
         |k AS (SELECT CAST(COALESCE(MIN(iter), ${PagerankConvCap})
         |        AS BIGINT) AS kstop
         |      FROM d WHERE md <= ${PagerankConvEps})
         |SELECT pr.v AS event_type, pr.rank AS rank_ppb,
         |  k.kstop AS iters_run
         |FROM pr, k WHERE pr.iter = k.kstop""".stripMargin,
    "q_cohort_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800 AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1),
        |s AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM c GROUP BY 1),
        |m AS (SELECT c.cohort_week, uw.week - c.cohort_week AS offset,
        |        COUNT(*) AS retained
        |      FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT m.cohort_week, m.offset, CAST(m.retained AS BIGINT)
        |    AS retained,
        |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |  CAST(m.retained AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |    AS retention_rate
        |FROM m JOIN s USING (cohort_week)""".stripMargin,
    "q_graph_triangles" ->
      """WITH b AS (SELECT DISTINCT p_brand FROM part),
        |e AS (SELECT x.p_brand AS b1, y.p_brand AS b2
        |      FROM b x JOIN b y ON x.p_brand < y.p_brand
        |      WHERE levenshtein(x.p_brand, y.p_brand) <= 1),
        |deg AS (SELECT v, COUNT(*) AS deg FROM (
        |          SELECT b1 AS v FROM e UNION ALL SELECT b2 AS v FROM e)
        |        GROUP BY 1),
        |w AS (SELECT COUNT(*) AS n_nodes,
        |        CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
        |      FROM deg),
        |t AS (SELECT COUNT(*) AS n_triangles
        |      FROM e ab JOIN e ac ON ab.b1 = ac.b1 AND ab.b2 < ac.b2
        |        JOIN e bc ON bc.b1 = ab.b2 AND bc.b2 = ac.b2),
        |m AS (SELECT COUNT(*) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  3.0 * CAST(n_triangles AS DOUBLE)
        |    / CAST(NULLIF(n_wedges, 0) AS DOUBLE) AS clustering_coeff
        |FROM m, w, t""".stripMargin,
    "q_fuzzy_brand" ->
      """WITH b AS (SELECT DISTINCT p_brand FROM part)
        |SELECT x.p_brand AS b1, y.p_brand AS b2,
        |  levenshtein(x.p_brand, y.p_brand) AS dist
        |FROM b x JOIN b y ON x.p_brand < y.p_brand
        |WHERE levenshtein(x.p_brand, y.p_brand) <= 1""".stripMargin,
    // brute nested-loop at threshold 2 — the blocked 2-deletion path
    // must reproduce it exactly (complete graph on this vocabulary)
    "q_fuzzy_brand2" ->
      """WITH b AS (SELECT DISTINCT p_brand FROM part)
        |SELECT x.p_brand AS b1, y.p_brand AS b2,
        |  levenshtein(x.p_brand, y.p_brand) AS dist
        |FROM b x JOIN b y ON x.p_brand < y.p_brand
        |WHERE levenshtein(x.p_brand, y.p_brand) <= 2""".stripMargin,
    // same plant surgery as fuzzyType2, replayed textually; brute
    // nested-loop verify over the augmented dictionary
    "q_fuzzy_type2" ->
      """WITH base AS (SELECT DISTINCT p_type AS v FROM part),
        |aug AS (
        |  SELECT v FROM base
        |  UNION ALL
        |  SELECT substr(v, 1, 2) || substr(v, 4) AS v FROM base
        |  UNION ALL
        |  SELECT substr(v, 1, 2) || substr(v, 4, 3) || substr(v, 8) AS v
        |  FROM base),
        |dict AS (SELECT DISTINCT v FROM aug)
        |SELECT x.v AS b1, y.v AS b2, levenshtein(x.v, y.v) AS dist
        |FROM dict x JOIN dict y ON x.v < y.v
        |WHERE levenshtein(x.v, y.v) <= 2""".stripMargin,
    "q_cube_geo" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name)""".stripMargin,
    "q_trailing_7d" ->
      """WITH daily AS (
        |  SELECT o_custkey,
        |    CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, day, CAST(rev_d AS DOUBLE) AS rev,
        |  CAST(SUM(rev_d) OVER (PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail7
        |FROM daily""".stripMargin,
    "q_ntile_custbal" ->
      """SELECT c_mktsegment, quartile, COUNT(*) AS n_cust,
        |  MIN(c_acctbal) AS bal_lo, MAX(c_acctbal) AS bal_hi
        |FROM (
        |  SELECT c_mktsegment, c_acctbal,
        |    NTILE(4) OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal, c_custkey) AS quartile
        |  FROM customer)
        |GROUP BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events),
        |g AS (
        |  SELECT user_id, t,
        |    CASE WHEN LAG(t) OVER w IS NULL
        |         OR t - LAG(t) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (
        |  SELECT user_id,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM g),
        |per_sess AS (
        |  SELECT user_id, sess_id, COUNT(*) AS cnt
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
        |  CAST(SUM(cnt) AS BIGINT) AS n_events,
        |  CAST(MAX(cnt) AS BIGINT) AS max_sess_events
        |FROM per_sess GROUP BY user_id""".stripMargin,
    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_value_quantiles" ->
      """WITH hist AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents,
        |    COUNT(*) AS ct
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, cents,
        |    SUM(ct) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(ct) OVER (PARTITION BY event_type) AS n
        |  FROM hist)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((n-1)*0.5) AS BIGINT)+1 THEN cents END) AS p50,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((n-1)*0.9) AS BIGINT)+1 THEN cents END) AS p90,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((n-1)*0.99) AS BIGINT)+1 THEN cents END) AS p99
        |FROM cum GROUP BY event_type""".stripMargin,
    // mirrors the Spark decomposition exactly: lower-median rank
    // floor((n-1)*0.5)+1 over the cents histogram, re-histogram of
    // absolute deviations, same rank for MAD, outliers beyond 3*MAD
    "q_value_mad" ->
      """WITH hist AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents,
        |    COUNT(*) AS ct
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |med AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |    MIN(CASE WHEN cum >= CAST(FLOOR((n-1)*0.5) AS BIGINT)+1
        |      THEN cents END) AS med_cents
        |  FROM (SELECT event_type, cents, ct,
        |      SUM(ct) OVER (PARTITION BY event_type ORDER BY cents
        |        ROWS UNBOUNDED PRECEDING) AS cum,
        |      SUM(ct) OVER (PARTITION BY event_type) AS n
        |    FROM hist) GROUP BY 1),
        |dev AS (
        |  SELECT h.event_type, ABS(cents - med_cents) AS dev,
        |    CAST(SUM(ct) AS BIGINT) AS dct
        |  FROM hist h JOIN med m ON h.event_type = m.event_type
        |  GROUP BY 1, 2),
        |mad AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN cum >= CAST(FLOOR((n-1)*0.5) AS BIGINT)+1
        |      THEN dev END) AS mad_cents
        |  FROM (SELECT event_type, dev, dct,
        |      SUM(dct) OVER (PARTITION BY event_type ORDER BY dev
        |        ROWS UNBOUNDED PRECEDING) AS cum,
        |      SUM(dct) OVER (PARTITION BY event_type) AS n
        |    FROM dev) GROUP BY 1),
        |outc AS (
        |  SELECT d.event_type, CAST(SUM(dct) AS BIGINT) AS out_cnt
        |  FROM dev d JOIN mad m ON d.event_type = m.event_type
        |  WHERE dev > 3 * mad_cents GROUP BY 1)
        |SELECT m.event_type, n, med_cents, mad_cents,
        |  COALESCE(out_cnt, 0) AS out_cnt
        |FROM med m JOIN mad a ON m.event_type = a.event_type
        |LEFT JOIN outc o ON m.event_type = o.event_type""".stripMargin,
    // moments are exact integer sums (x centered on each type's own first
    // day); the slope is the one sanctioned IEEE division of two
    // exactly-equal integers
    "q_trend_slope" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(FLOOR(epoch(ts)/86400) AS BIGINT) AS day,
        |    COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT event_type, MIN(day) AS d0 FROM daily GROUP BY 1),
        |m AS (
        |  SELECT d.event_type, COUNT(*) AS n_days,
        |    CAST(SUM(day - d0) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM((day - d0) * y) AS BIGINT) AS sxy,
        |    CAST(SUM((day - d0) * (day - d0)) AS BIGINT) AS sxx
        |  FROM daily d JOIN base b ON d.event_type = b.event_type
        |  GROUP BY 1)
        |SELECT event_type, n_days,
        |  CASE WHEN n_days * sxx - sx * sx <> 0 THEN
        |    CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_days * sxx - sx * sx AS DOUBLE)
        |  END AS slope
        |FROM m""".stripMargin,
    // 2*sec >= t0+t1 is the exact-integer half split (no midpoint
    // division); rates are single IEEE divisions, gap one subtraction
    "q_dist_drift" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE value IS NOT NULL),
        |ext AS (SELECT MIN(sec) AS t0, MAX(sec) AS t1,
        |    MIN(value) AS vmin, MAX(value) AS vmax FROM e),
        |counts AS (
        |  SELECT event_type,
        |    CAST(LEAST(FLOOR((value - vmin) * 10 / (vmax - vmin)), 9)
        |      AS BIGINT) AS bucket,
        |    CAST(SUM(CASE WHEN sec * 2 >= t0 + t1 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN sec * 2 >= t0 + t1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b
        |  FROM e CROSS JOIN ext GROUP BY 1, 2),
        |tots AS (
        |  SELECT event_type, CAST(SUM(n_a) AS BIGINT) AS tot_a,
        |    CAST(SUM(n_b) AS BIGINT) AS tot_b
        |  FROM counts GROUP BY 1)
        |SELECT c.event_type, bucket, n_a, n_b,
        |  CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS rate_a,
        |  CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS rate_b,
        |  ABS(CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
        |    - CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE)) AS gap
        |FROM counts c JOIN tots t ON c.event_type = t.event_type""".stripMargin,
    "q_weighted_quantiles" ->
      """WITH hist AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS cents,
        |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wt
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT flag, cents, wt,
        |    SUM(wt) OVER (PARTITION BY flag ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(wt) OVER (PARTITION BY flag) AS tw
        |  FROM hist)
        |SELECT flag, CAST(MAX(tw) AS BIGINT) AS total_weight,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((tw-1)*0.25) AS BIGINT)+1
        |    THEN cents END) AS wp25,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((tw-1)*0.5) AS BIGINT)+1
        |    THEN cents END) AS wp50,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((tw-1)*0.75) AS BIGINT)+1
        |    THEN cents END) AS wp75,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((tw-1)*0.9) AS BIGINT)+1
        |    THEN cents END) AS wp90
        |FROM cum GROUP BY flag""".stripMargin,
    "q_rolling_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(FLOOR(epoch(ts)/86400) AS BIGINT) AS day
        |  FROM events),
        |span AS (SELECT MAX(day) AS d1 FROM ud),
        |contrib AS (
        |  SELECT user_id, day + CAST(i AS BIGINT) AS wday
        |  FROM ud, UNNEST(range(7)) AS u(i))
        |SELECT wday, COUNT(DISTINCT user_id) AS u7,
        |  COUNT(*) AS n_user_days
        |FROM contrib CROSS JOIN span WHERE wday <= d1
        |GROUP BY 1""".stripMargin,
    "q_mode_per_group" ->
      """WITH g AS (
        |  SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment, o_orderpriority AS mode_priority,
        |  n AS mode_n
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |        ORDER BY n DESC, o_orderpriority) AS rk FROM g)
        |WHERE rk = 1""".stripMargin,
    // tied-rank block identity: value v, count c after cumulative C
    // contributes v*c*(2C+c+1) to 2*sum(rank*value) — histogram-sized
    "q_gini_segment" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |hist AS (
        |  SELECT c_mktsegment, cents, COUNT(*) AS c
        |  FROM spend GROUP BY 1, 2),
        |r AS (
        |  SELECT c_mktsegment, cents, c,
        |    COALESCE(SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cprev
        |  FROM hist),
        |m AS (
        |  SELECT c_mktsegment, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(cents * c) AS BIGINT) AS sx,
        |    SUM(CAST(cents AS DECIMAL(38,0)) * c * (2 * cprev + c + 1))
        |      AS six2
        |  FROM r GROUP BY 1)
        |SELECT c_mktsegment, n, sx,
        |  CAST(six2 - (n + 1) * CAST(sx AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(38,0)) * sx AS DOUBLE) AS gini
        |FROM m""".stripMargin,
    "q_basket_pairs" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
        |SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS support
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY 1, 2
        |ORDER BY support DESC, p1 ASC, p2 ASC LIMIT 20""".stripMargin,
    // unrolls the EXACT LpaRounds synchronous rounds over the same
    // support>=2 co-purchase spine; argmax encoded/decoded identically
    // (see [[basketCommunities]] — keep the two in lockstep)
    "q_basket_communities" -> basketCommunitiesSql,
    // VERBATIM shared with q_basket_communities: the hash gate proves
    // the co-partitioned (never-broadcast) label path is
    // output-invariant against the broadcast face (J15/J16 discipline)
    "q_basket_communities_copart" -> basketCommunitiesSql,
    // VERBATIM shared again: the DISK-backed bucketed-edge layout is the
    // third face of the same truth — mechanism-invariance hash-proven
    "q_basket_communities_bucketed" -> basketCommunitiesSql,
    "q_cohort_ltv" ->
      """WITH om AS (
        |  SELECT o_custkey, CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |    CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS BIGINT)
        |      AS m
        |  FROM orders),
        |cohort AS (SELECT o_custkey, MIN(m) AS m0 FROM om GROUP BY 1),
        |cells AS (
        |  SELECT m0 AS cohort_month, m - m0 AS age,
        |    COUNT(DISTINCT om.o_custkey) AS n_cust, COUNT(*) AS n_orders,
        |    CAST(SUM(cents) AS BIGINT) AS rev_cents
        |  FROM om JOIN cohort ON om.o_custkey = cohort.o_custkey
        |  GROUP BY 1, 2),
        |wnd AS (
        |  SELECT cohort_month, age, n_cust, n_orders, rev_cents,
        |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month ORDER BY age
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents,
        |    FIRST_VALUE(n_cust) OVER (PARTITION BY cohort_month ORDER BY age
        |      ROWS UNBOUNDED PRECEDING) AS cohort_size
        |  FROM cells)
        |SELECT cohort_month, age, n_cust, n_orders, rev_cents,
        |  cum_rev_cents,
        |  CAST(cum_rev_cents AS DOUBLE) / CAST(cohort_size AS DOUBLE)
        |    AS ltv_cents_per_cust
        |FROM wnd""".stripMargin,
    "q_order_gap_stats" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(FLOOR(epoch(o_orderdate)/86400) AS BIGINT) AS day
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey, day - LAG(day) OVER (PARTITION BY o_custkey
        |    ORDER BY day, o_orderkey) AS gap_d
        |  FROM o),
        |hist AS (
        |  SELECT c_mktsegment, gap_d, COUNT(*) AS ct
        |  FROM g JOIN customer ON o_custkey = c_custkey
        |  WHERE gap_d IS NOT NULL GROUP BY 1, 2),
        |cum AS (
        |  SELECT c_mktsegment, gap_d, ct,
        |    SUM(ct) OVER (PARTITION BY c_mktsegment ORDER BY gap_d
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(ct) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM hist)
        |SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_gaps,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((n-1)*0.5) AS BIGINT)+1
        |    THEN gap_d END) AS med_gap_d,
        |  MIN(CASE WHEN cum >= CAST(FLOOR((n-1)*0.9) AS BIGINT)+1
        |    THEN gap_d END) AS p90_gap_d
        |FROM cum GROUP BY 1""".stripMargin,
    // 5*cumRev >= 4*totRev is the exact-integer 80% crossing — no float
    "q_pareto_8020" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |hist AS (
        |  SELECT c_mktsegment, cents, COUNT(*) AS c
        |  FROM spend GROUP BY 1, 2),
        |cum AS (
        |  SELECT c_mktsegment, cents, c,
        |    SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY cents DESC
        |      ROWS UNBOUNDED PRECEDING) AS cum_n,
        |    SUM(cents * c) OVER (PARTITION BY c_mktsegment
        |      ORDER BY cents DESC ROWS UNBOUNDED PRECEDING) AS cum_rev,
        |    SUM(c) OVER (PARTITION BY c_mktsegment) AS n,
        |    SUM(cents * c) OVER (PARTITION BY c_mktsegment) AS tot_rev
        |  FROM hist),
        |agg AS (
        |  SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_cust,
        |    CAST(MIN(CASE WHEN cum_rev * 5 >= tot_rev * 4 THEN cum_n END)
        |      AS BIGINT) AS n_top80
        |  FROM cum GROUP BY 1)
        |SELECT c_mktsegment, n_cust, n_top80,
        |  CAST(n_top80 AS DOUBLE) / CAST(n_cust AS DOUBLE) AS top80_share
        |FROM agg""".stripMargin,
    "q_new_vs_returning" ->
      """WITH om AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS BIGINT)
        |      AS m
        |  FROM orders),
        |cohort AS (SELECT o_custkey, MIN(m) AS m0 FROM om GROUP BY 1),
        |g AS (
        |  SELECT m AS month_idx, COUNT(*) AS n_active,
        |    CAST(SUM(CASE WHEN m = m0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new
        |  FROM om JOIN cohort ON om.o_custkey = cohort.o_custkey
        |  GROUP BY 1)
        |SELECT month_idx, n_active, n_new,
        |  n_active - n_new AS n_returning,
        |  CAST(n_active - n_new AS DOUBLE) / CAST(n_active AS DOUBLE)
        |    AS returning_share
        |FROM g""".stripMargin,
    "q_rfm_segments" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    MAX(CAST(FLOOR(epoch(o_orderdate)/86400) AS BIGINT))
        |      AS last_day,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS monetary
        |  FROM orders GROUP BY 1),
        |anchor AS (SELECT MAX(last_day) AS dmax FROM per),
        |scored AS (
        |  SELECT o_custkey, freq, monetary, dmax - last_day AS recency,
        |    NTILE(5) OVER (ORDER BY dmax - last_day ASC, o_custkey ASC)
        |      AS r_score,
        |    NTILE(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_score,
        |    NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC)
        |      AS m_score
        |  FROM per CROSS JOIN anchor)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_cust,
        |  CAST(SUM(monetary) AS BIGINT) AS cell_cents,
        |  CAST(SUM(monetary) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS avg_cents
        |FROM scored GROUP BY 1, 2, 3""".stripMargin,
    // rev_m * 12 is exact int64 BEFORE the one IEEE division
    "q_seasonality_index" ->
      """WITH per AS (
        |  SELECT CAST(month(o_orderdate) AS BIGINT) AS moy,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot_cents FROM per)
        |SELECT moy, n_orders, rev_cents,
        |  CAST(rev_cents * 12 AS DOUBLE) / CAST(tot_cents AS DOUBLE)
        |    AS season_idx
        |FROM per CROSS JOIN tot""".stripMargin,
    // sum(s_i^2) and (sum s_i)^2 are exact int64; hhi is the ONE division
    "q_supplier_hhi" ->
      """WITH rev AS (
        |  SELECT p_brand, l_suppkey,
        |    CAST(SUM(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
        |      AS dollars
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT p_brand, COUNT(*) AS n_suppliers,
        |  CAST(SUM(dollars) AS BIGINT) AS brand_dollars,
        |  CAST(SUM(dollars * dollars) AS DOUBLE)
        |    / CAST(SUM(dollars) * SUM(dollars) AS DOUBLE) AS hhi
        |FROM rev GROUP BY 1""".stripMargin,
    "q_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(FLOOR(epoch(ts)/86400) AS BIGINT) AS day
        |  FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        |wau AS (
        |  SELECT wday, COUNT(DISTINCT user_id) AS wau
        |  FROM (SELECT user_id, day + CAST(i AS BIGINT) AS wday
        |        FROM ud, UNNEST(range(7)) AS u(i))
        |  GROUP BY 1)
        |SELECT day, dau, wau,
        |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau ON day = wday""".stripMargin,
    "q_conversion_window" ->
      """WITH su AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS s0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |conv AS (
        |  SELECT DISTINCT su.user_id
        |  FROM su JOIN events e ON su.user_id = e.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) >= s0
        |    AND epoch_us(e.ts) < s0 + 86400000000)
        |SELECT s0 // 604800000000 AS cohort_week,
        |  COUNT(*) AS n_signups,
        |  CAST(COALESCE(SUM(CASE WHEN conv.user_id IS NOT NULL
        |    THEN 1 END), 0) AS BIGINT) AS n_converted,
        |  CAST(COALESCE(SUM(CASE WHEN conv.user_id IS NOT NULL
        |    THEN 1 END), 0) AS DOUBLE) / COUNT(*) AS conv_rate
        |FROM su LEFT JOIN conv ON su.user_id = conv.user_id
        |GROUP BY 1""".stripMargin,
    // ordering pinned on (epoch-micros, event_id) in BOTH engines; the
    // -1-preceding frame keeps a purchase from attributing to itself
    "q_attribution" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type, value
        |  FROM events),
        |p AS (
        |  SELECT event_type,
        |    COALESCE(first_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS) OVER w, 'direct')
        |      AS first_ch,
        |    COALESCE(last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS) OVER w, 'direct')
        |      AS last_ch,
        |    COALESCE(CAST(round(value * 100) AS BIGINT), 0) AS cents
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |r AS (
        |  SELECT 'first' AS model, first_ch AS channel,
        |    COUNT(*) AS n_purchases, CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |  FROM p WHERE event_type = 'purchase' GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'last', last_ch, COUNT(*), CAST(SUM(cents) AS BIGINT)
        |  FROM p WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT model, channel, n_purchases, revenue_cents,
        |  CAST(revenue_cents AS DOUBLE)
        |    / CAST(SUM(revenue_cents) OVER (PARTITION BY model) AS DOUBLE)
        |    AS revenue_share
        |FROM r""".stripMargin,
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, p.buy_s, p.buy_s - v.view_s AS gap_s
        |FROM (SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS buy_s
        |      FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS view_s
        |           FROM events WHERE event_type = 'view') v
        |ON p.user_id = v.user_id AND p.buy_s >= v.view_s""".stripMargin,
    "q_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_dq_checks" ->
      """WITH b AS (SELECT
        |    CAST(COUNT(*) AS DOUBLE) AS row_count,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS null_custkey,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS pk_dups,
        |    CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS min_price
        |  FROM orders),
        |orph AS (SELECT CAST(COUNT(*) AS DOUBLE) AS orphan_custkey
        |         FROM orders
        |         WHERE o_custkey IS NOT NULL
        |           AND o_custkey NOT IN (SELECT c_custkey FROM customer
        |                                 WHERE c_custkey IS NOT NULL)),
        |m AS (
        |  SELECT 'row_count' AS metric, row_count AS value FROM b
        |  UNION ALL SELECT 'null_custkey', null_custkey FROM b
        |  UNION ALL SELECT 'pk_dups', pk_dups FROM b
        |  UNION ALL SELECT 'min_price', min_price FROM b
        |  UNION ALL SELECT 'orphan_custkey', orphan_custkey FROM orph)
        |SELECT metric, value,
        |  CAST(CASE WHEN metric IN ('row_count', 'min_price')
        |       THEN value > 0 ELSE value = 0 END AS BIGINT) AS ok
        |FROM m""".stripMargin,
    "q_skew_profile" ->
      """WITH k AS (SELECT o_custkey AS key, COUNT(*) AS n
        |           FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t, AVG(n) AS a FROM k)
        |SELECT key, n, CAST(n AS DOUBLE) / t AS share,
        |  CAST(n AS DOUBLE) / a AS skew_x
        |FROM k CROSS JOIN tot
        |ORDER BY n DESC, key ASC LIMIT 20""".stripMargin,
    "q_tumbling_window" ->
      """SELECT CAST(FLOOR(epoch(ts)/10)*10 AS BIGINT) AS wstart, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_hourly_active" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hr, COUNT(*) AS pv,
        |  COUNT(DISTINCT user_id) AS uv
        |FROM events GROUP BY 1""".stripMargin,
    "q_first_seen_daily" ->
      """SELECT strftime(fd, '%Y-%m-%d') AS first_day, COUNT(*) AS new_users
        |FROM (SELECT user_id, MIN(CAST(ts AS DATE)) AS fd FROM events GROUP BY 1)
        |GROUP BY 1""".stripMargin,
    "q_distinct_users" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS uv
        |FROM events GROUP BY event_type""".stripMargin,
    // Bracket oracles for the two sketch queries: the deterministic
    // columns are computed for real on both sides; the *_ok flags assert
    // the sketch's accuracy contract (DuckDB can't reproduce the sketch
    // bits, but it CAN demand the bound held — a 1 the Spark side only
    // emits when the estimate landed inside the bracket).
    "q_distinct_users_approx" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS uv_exact,
        |  CAST(1 AS BIGINT) AS uv_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,
    "q_hll_rollup" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |                  strftime(ts, '%Y-%m-%d %H') AS hr, user_id
        |           FROM events)
        |SELECT 'day' AS grain, day AS bucket,
        |  COUNT(DISTINCT hr) AS n_sketches,
        |  COUNT(DISTINCT user_id) AS uv_exact,
        |  CAST(1 AS BIGINT) AS uv_within_5pct
        |FROM e GROUP BY 2
        |UNION ALL
        |SELECT 'all', 'ALL', COUNT(DISTINCT hr), COUNT(DISTINCT user_id),
        |  CAST(1 AS BIGINT)
        |FROM e""".stripMargin,
    "q_kmv_distinct" ->
      """WITH h AS (SELECT event_type,
        |             ('0x'||substr(md5(user_id::VARCHAR),1,15))::BIGINT AS h
        |           FROM events),
        |r AS (SELECT event_type, h,
        |        dense_rank() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |      FROM h),
        |k AS (SELECT event_type, COUNT(DISTINCT h) AS n_kept, MAX(h) AS kth
        |      FROM r WHERE rn <= 128 GROUP BY 1),
        |e AS (SELECT event_type, COUNT(DISTINCT user_id) AS uv_exact
        |      FROM events GROUP BY 1),
        |est AS (SELECT event_type, uv_exact,
        |          CASE WHEN n_kept < 128 THEN n_kept
        |               ELSE CAST(floor(127.0 * 1152921504606846976.0 / kth)
        |                         AS BIGINT) END AS uv_kmv
        |        FROM k JOIN e USING (event_type))
        |SELECT event_type, uv_exact, uv_kmv,
        |  CAST(ABS(uv_kmv - uv_exact) <= uv_exact * 0.15 AS BIGINT)
        |    AS within_15pct
        |FROM est""".stripMargin,
    "q_kmv_rollup" ->
      """WITH h AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |             strftime(ts, '%Y-%m-%d %H') AS hr, user_id,
        |             ('0x'||substr(md5(user_id::VARCHAR),1,15))::BIGINT AS h
        |           FROM events),
        |dayr AS (SELECT day, h FROM (
        |           SELECT day, h,
        |             dense_rank() OVER (PARTITION BY day ORDER BY h) AS dr
        |           FROM (SELECT DISTINCT day, h FROM h))
        |         WHERE dr <= 128),
        |daysk AS (SELECT day, COUNT(*) AS n_kept, MAX(h) AS kth
        |          FROM dayr GROUP BY 1),
        |dayex AS (SELECT day, COUNT(DISTINCT hr) AS n_merged,
        |            COUNT(DISTINCT user_id) AS uv_exact
        |          FROM h GROUP BY 1),
        |day_out AS (
        |  SELECT 'day' AS grain, day AS bucket, n_merged, uv_exact,
        |    CASE WHEN n_kept < 128 THEN n_kept
        |         ELSE CAST(floor(127.0 * 1152921504606846976.0 / kth)
        |                   AS BIGINT) END AS uv_kmv
        |  FROM daysk JOIN dayex USING (day)),
        |allr AS (SELECT h FROM (
        |           SELECT h, dense_rank() OVER (ORDER BY h) AS dr
        |           FROM (SELECT DISTINCT h FROM h))
        |         WHERE dr <= 128),
        |allsk AS (SELECT COUNT(*) AS n_kept, MAX(h) AS kth FROM allr),
        |allex AS (SELECT COUNT(DISTINCT day) AS n_merged,
        |            COUNT(DISTINCT user_id) AS uv_exact FROM h),
        |all_out AS (
        |  SELECT 'all' AS grain, 'ALL' AS bucket, n_merged, uv_exact,
        |    CASE WHEN n_kept < 128 THEN n_kept
        |         ELSE CAST(floor(127.0 * 1152921504606846976.0 / kth)
        |                   AS BIGINT) END AS uv_kmv
        |  FROM allsk, allex)
        |SELECT * FROM day_out UNION ALL SELECT * FROM all_out""".stripMargin,
    // the oracle computes every grain's sample DIRECTLY from raw rows;
    // Spark merges stored finer samples — hash match = merge-identity
    // proof (the kmv_rollup pattern, on row samples)
    "q_quantile_rollup" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |             strftime(ts, '%Y-%m-%d %H') AS hr,
        |             CAST(round(value * 100) AS BIGINT) AS cents,
        |             ('0x'||substr(md5(event_id::VARCHAR),1,15))::BIGINT AS h
        |           FROM events WHERE value IS NOT NULL),
        |dayr AS (SELECT day, h, cents FROM (
        |           SELECT day, h, cents, row_number() OVER
        |             (PARTITION BY day ORDER BY h, cents) AS rn FROM e)
        |         WHERE rn <= 128),
        |dayv AS (SELECT day, cents,
        |           row_number() OVER (PARTITION BY day
        |             ORDER BY cents, h) AS vrn,
        |           COUNT(*) OVER (PARTITION BY day) AS ns FROM dayr),
        |dayest AS (SELECT day, MAX(ns) AS n_sample,
        |    MIN(CASE WHEN vrn >= floor((ns-1)*0.5)+1 THEN cents END)
        |      AS est_p50,
        |    MIN(CASE WHEN vrn >= floor((ns-1)*0.9)+1 THEN cents END)
        |      AS est_p90
        |  FROM dayv GROUP BY 1),
        |dayx AS (SELECT day, cents,
        |           row_number() OVER (PARTITION BY day
        |             ORDER BY cents, h) AS vrn,
        |           COUNT(*) OVER (PARTITION BY day) AS n FROM e),
        |dayexact AS (SELECT day, MAX(n) AS n_rows,
        |    MIN(CASE WHEN vrn >= floor((n-1)*0.5)+1 THEN cents END)
        |      AS exact_p50,
        |    MIN(CASE WHEN vrn >= floor((n-1)*0.9)+1 THEN cents END)
        |      AS exact_p90
        |  FROM dayx GROUP BY 1),
        |daymeta AS (SELECT day, COUNT(DISTINCT hr) AS n_merged
        |            FROM e GROUP BY 1),
        |day_out AS (
        |  SELECT 'day' AS grain, day AS bucket, n_merged, n_rows,
        |    n_sample, est_p50, est_p90, exact_p50, exact_p90
        |  FROM dayest JOIN dayexact USING (day) JOIN daymeta USING (day)),
        |allr AS (SELECT h, cents FROM (
        |           SELECT h, cents, row_number() OVER
        |             (ORDER BY h, cents) AS rn FROM e) WHERE rn <= 128),
        |allv AS (SELECT cents,
        |           row_number() OVER (ORDER BY cents, h) AS vrn,
        |           COUNT(*) OVER () AS ns FROM allr),
        |allest AS (SELECT MAX(ns) AS n_sample,
        |    MIN(CASE WHEN vrn >= floor((ns-1)*0.5)+1 THEN cents END)
        |      AS est_p50,
        |    MIN(CASE WHEN vrn >= floor((ns-1)*0.9)+1 THEN cents END)
        |      AS est_p90
        |  FROM allv),
        |allx AS (SELECT cents,
        |           row_number() OVER (ORDER BY cents, h) AS vrn,
        |           COUNT(*) OVER () AS n FROM e),
        |allexact AS (SELECT MAX(n) AS n_rows,
        |    MIN(CASE WHEN vrn >= floor((n-1)*0.5)+1 THEN cents END)
        |      AS exact_p50,
        |    MIN(CASE WHEN vrn >= floor((n-1)*0.9)+1 THEN cents END)
        |      AS exact_p90
        |  FROM allx),
        |allmeta AS (SELECT COUNT(DISTINCT day) AS n_merged FROM e),
        |all_out AS (
        |  SELECT 'all' AS grain, 'ALL' AS bucket, n_merged, n_rows,
        |    n_sample, est_p50, est_p90, exact_p50, exact_p90
        |  FROM allest, allexact, allmeta)
        |SELECT * FROM day_out UNION ALL SELECT * FROM all_out""".stripMargin,
    "q_kmv_overlap" ->
      """WITH et AS (SELECT DISTINCT event_type,
        |              ('0x'||substr(md5(user_id::VARCHAR),1,15))::BIGINT AS h
        |            FROM events),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |pr AS (SELECT a.event_type AS et_a, b.event_type AS et_b
        |       FROM ty a, ty b WHERE a.event_type < b.event_type),
        |mem AS (SELECT et_a, et_b, h,
        |          MAX(CASE WHEN event_type = et_a THEN 1 ELSE 0 END) AS in_a,
        |          MAX(CASE WHEN event_type = et_b THEN 1 ELSE 0 END) AS in_b
        |        FROM pr JOIN et
        |          ON et.event_type = pr.et_a OR et.event_type = pr.et_b
        |        GROUP BY 1, 2, 3),
        |sk AS (SELECT et_a, et_b, COUNT(*) AS n_kept, MAX(h) AS kth,
        |         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_both_kept
        |       FROM (SELECT *, dense_rank() OVER (PARTITION BY et_a, et_b
        |               ORDER BY h) AS dr FROM mem)
        |       WHERE dr <= 128 GROUP BY 1, 2),
        |ex AS (SELECT et_a, et_b, COUNT(*) AS union_exact,
        |         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS inter_exact
        |       FROM mem GROUP BY 1, 2)
        |SELECT sk.et_a AS et_a, sk.et_b AS et_b, union_exact, inter_exact,
        |  CASE WHEN n_kept < 128 THEN n_kept
        |       ELSE CAST(floor(127.0 * 1152921504606846976.0 / kth)
        |                 AS BIGINT) END AS union_kmv,
        |  CASE WHEN n_kept < 128 THEN n_both_kept
        |       ELSE CAST(floor(CAST(n_both_kept AS DOUBLE) / n_kept *
        |                 (127.0 * 1152921504606846976.0 / kth))
        |                 AS BIGINT) END AS inter_kmv
        |FROM sk JOIN ex ON sk.et_a = ex.et_a AND sk.et_b = ex.et_b""".stripMargin,
    "q_dq_drift" ->
      """WITH days AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day FROM events
        |  UNION ALL
        |  SELECT '1990-01-01' AS day FROM events WHERE event_id % 3 = 0),
        |daily AS (SELECT day, COUNT(*) AS n_rows FROM days GROUP BY day),
        |m AS (SELECT quantile_cont(n_rows, 0.5) AS med FROM daily),
        |dv AS (SELECT day, n_rows, ABS(n_rows - med) AS dev FROM daily, m),
        |m2 AS (SELECT quantile_cont(dev, 0.5) AS mad FROM dv)
        |SELECT day, n_rows,
        |  CAST(dev > 3.0 * mad AS BIGINT) AS flagged
        |FROM dv, m2""".stripMargin,
    "q_zorder_layout" ->
      """WITH m AS (SELECT MAX(l_partkey) mpk, MAX(l_suppkey) msk,
        |                  MAX(l_orderkey) mok FROM lineitem),
        |c AS (SELECT l_partkey, l_suppkey, mpk,
        |        ((l_partkey - 1) * 8) // mpk AS a,
        |        ((l_suppkey - 1) * 8) // msk AS b,
        |        ((l_orderkey - 1) * 64) // mok AS lin
        |      FROM lineitem, m),
        |z AS (SELECT *,
        |        ((a >> 0) & 1) * 2 + ((b >> 0) & 1) * 1 +
        |        ((a >> 1) & 1) * 8 + ((b >> 1) & 1) * 4 +
        |        ((a >> 2) & 1) * 32 + ((b >> 2) & 1) * 16 AS zf
        |      FROM c),
        |au AS (SELECT 'zorder' AS layout, zf AS file_id, COUNT(*) AS n_rows,
        |         MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
        |         MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk,
        |         MAX(mpk) AS mpk
        |       FROM z GROUP BY zf
        |       UNION ALL
        |       SELECT 'linear', lin, COUNT(*), MIN(l_partkey), MAX(l_partkey),
        |         MIN(l_suppkey), MAX(l_suppkey), MAX(mpk)
        |       FROM z GROUP BY lin)
        |SELECT layout, file_id, n_rows, min_pk, max_pk, min_sk, max_sk,
        |  CAST(min_pk <= (mpk * 4) // 8 AND max_pk >= (mpk * 3) // 8
        |       AS BIGINT) AS probe_hit
        |FROM au""".stripMargin,
    "q_value_quantiles_approx" ->
      """SELECT event_type, COUNT(value) AS n,
        |  CAST(1 AS BIGINT) AS p50_ok,
        |  CAST(1 AS BIGINT) AS p90_ok,
        |  CAST(1 AS BIGINT) AS p99_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q_funnel_union" ->
      """SELECT 'view_ct' AS metric, COUNT(*) AS ct FROM events WHERE event_type='view'
        |UNION ALL SELECT 'click_ct', COUNT(*) FROM events WHERE event_type='click'
        |UNION ALL SELECT 'purchase_ct', COUNT(*) FROM events WHERE event_type='purchase'
        |UNION ALL SELECT 'signup_ct', COUNT(*) FROM events WHERE event_type='signup'
        |UNION ALL SELECT 'uv', COUNT(DISTINCT user_id) FROM events""".stripMargin,
    "q_topk_brands" ->
      """SELECT p_brand, CAST(gmv_d AS DOUBLE) AS gmv FROM (
        |  SELECT p_brand, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS gmv_d
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand ORDER BY gmv_d DESC, p_brand ASC LIMIT 10)""".stripMargin,
    "q_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1""".stripMargin,
    "q_status_conditional" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS high_ct,
        |  CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS high_ratio
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_rollup_geo" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "q_filter_project" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day
        |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 300000""".stripMargin,
    "q_orders_per_month" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total
        |FROM orders GROUP BY 1""".stripMargin,
    "q_cust_totals" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
        |  MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_order_day
        |FROM orders GROUP BY o_custkey""".stripMargin,
  )
}
