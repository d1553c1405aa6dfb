package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized DWS layer — the pre-aggregated tables the reference's
  * DWS jobs write to ClickHouse and its ADS publisher reads (SURVEY §2.10,
  * §3.3). One [[StoreDirs.store]] build reads each input once and writes
  * six small tables; the dashboard queries in `AdsQueries` aggregate
  * these instead of the ODS tables, so each is a scan, one exchange and
  * the result (plus one keyed exchange for the four that need a per-user
  * window).
  *
  * Grain rule: a table's grain is a query's group key plus the user,
  * customer or order id that query counts distinct. Each grain row then
  * stands for exactly one distinct id, so `count(distinct x)` over the
  * source becomes `count(x)` over the grain rows, with no distinct stage.
  * The readers use `count(x)`, never `count(*)`: a NULL id is one grain
  * row of its own (`groupBy` folds NULLs into one group) that a source
  * `count(distinct x)` skips, and so does `count(x)`.
  *
  * Tables (grain → measures):
  *   - `traffic_type`: event_type, user_id → pv, value_cents
  *   - `traffic_hour`: hr, user_id → pv, signup_ct
  *   - `traffic_day`: user_id, day → pv, view_ct, signup_ct, value_dec
  *   - `trade`: o_custkey, n_name → order_ct, open_ct, fulfilled_ct,
  *     price_sum
  *   - `commodity`: p_brand, p_type, p_size, l_returnflag → item_ct,
  *     ext_sum
  *   - `tm_cat_user`: trademark, category1, user_id, order_id → item_ct,
  *     amount_sum
  *
  * Exactness: every measure is a count, a `long` sum or a decimal sum,
  * and each table is [[Table.roll]] — `sum` of every measure per grain
  * key — over per-row measure columns (a count is a sum of 1s). Those
  * sums are associative and exact, so re-aggregating grain rows on any
  * coarser key gives the same value as aggregating the source rows once,
  * bit for bit, and a `double` result is cast from the same exact decimal.
  * The decimal measures are the queries' own casts of the raw column
  * (`value` to `decimal(18,6)`, prices to `decimal(18,2)`), widened to
  * precision 38 so a sum of sums keeps its type ([[refresh]] folds the
  * stored sums again).
  *
  * Joins and NULL keys:
  *   - `trade` LEFT-joins the orders to customer ⋈ nation, so every order
  *     counts in the order-only measures (`q_ads_trade_stats`,
  *     `q_ads_user_trade`, the `trade` leg of `q_ads_uv_page`), and an
  *     order whose customer or nation is missing gets a NULL `n_name`,
  *     which `q_ads_province_order`'s `n_name IS NOT NULL` filter drops
  *     exactly as its inner joins did. `c_custkey` and `n_nationkey` are
  *     the TPC-H primary keys, so the join neither drops nor repeats an
  *     order and the grain is one row per `o_custkey`.
  *   - `commodity` and `tm_cat_user` inner-join `part` on its key like
  *     the queries they serve, so they hold exactly the line rows those
  *     queries aggregate. Their part attributes are grouping keys in both
  *     the store and the reader, and `groupBy` folds a NULL attribute the
  *     same way at either level.
  *
  * Freshness and refresh: the build is keyed on the input fingerprint
  * like every store. The traffic tables also fold a stream of events
  * ([[refresh]]); trade, commodity and the DWD table rebuild when their
  * inputs change, since order and line rows arrive as CDC updates, not
  * append-only facts. */
object DwsStore {

  /** One stored table: its grain keys and additive measure columns. */
  private final case class Table(name: String, keys: Seq[String],
      measures: Seq[String]) {
    /** Sum every measure per grain key: the build from per-row measure
      * columns and the re-aggregation of stored rows alike. */
    def roll(df: DataFrame): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(sum(measures.head).as(measures.head),
          measures.tail.map(m => sum(m).as(m)): _*)
  }

  private val trafficType = Table("traffic_type",
    Seq("event_type", "user_id"), Seq("pv", "value_cents"))
  private val trafficHour = Table("traffic_hour",
    Seq("hr", "user_id"), Seq("pv", "signup_ct"))
  private val trafficDay = Table("traffic_day",
    Seq("user_id", "day"), Seq("pv", "view_ct", "signup_ct", "value_dec"))
  private val traffic = Seq(trafficType, trafficHour, trafficDay)
  /** The finest traffic grain: every traffic table rolls up from it. */
  private val trafficFine = Table("traffic_fine",
    Seq("event_type", "hr", "day", "user_id"),
    Seq("pv", "view_ct", "signup_ct", "value_cents", "value_dec"))

  private val trade = Table("trade", Seq("o_custkey", "n_name"),
    Seq("order_ct", "open_ct", "fulfilled_ct", "price_sum"))
  private val commodity = Table("commodity",
    Seq("p_brand", "p_type", "p_size", "l_returnflag"),
    Seq("item_ct", "ext_sum"))
  private val tmCatUser = Table("tm_cat_user",
    Seq("trademark", "category1", "user_id", "order_id"),
    Seq("item_ct", "amount_sum"))

  private def flag(c: Column): Column = when(c, 1L).otherwise(0L)

  /** Per-event traffic measures at the [[trafficFine]] keys. */
  private def eventRows(events: DataFrame): DataFrame =
    events.select(col("event_type"), hour(col("ts")).as("hr"),
      to_date(col("ts")).as("day"), col("user_id"),
      lit(1L).as("pv"),
      flag(col("event_type") === "view").as("view_ct"),
      flag(col("event_type") === "signup").as("signup_ct"),
      round(col("value") * 100).cast("long").as("value_cents"),
      col("value").cast("decimal(18,6)").cast("decimal(38,6)")
        .as("value_dec"))

  private def build(s: SparkSession, d: String, base: String): Unit = {
    def write(t: Table, rows: DataFrame): Unit =
      t.roll(rows).write.mode("overwrite").parquet(s"$base/${t.name}")

    // events are scanned once: the three traffic tables roll up from
    // one pinned finest-grain aggregate
    val fine = trafficFine.roll(eventRows(Tables.events(s, d)))
      .localCheckpoint()
    traffic.foreach(write(_, fine))
    Relational.unpersistCheckpoint(fine)

    val custNation = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    write(trade, Tables.orders(s, d)
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"),
        "left")
      .select(col("o_custkey"), col("n_name"),
        lit(1L).as("order_ct"),
        flag(col("o_orderstatus") === "O").as("open_ct"),
        flag(col("o_orderstatus") === "F").as("fulfilled_ct"),
        col("o_totalprice").cast("decimal(18,2)").cast("decimal(38,2)")
          .as("price_sum")))

    val part = broadcast(Tables.part(s, d)
      .select("p_partkey", "p_brand", "p_type", "p_size"))
    write(commodity, Tables.lineitem(s, d)
      .join(part, col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_type"), col("p_size"),
        col("l_returnflag"), lit(1L).as("item_ct"),
        col("l_extendedprice").cast("decimal(18,2)").cast("decimal(38,2)")
          .as("ext_sum")))

    write(tmCatUser, DwdStore.latest(s, d)
      .join(part, col("sku_id") === col("p_partkey"))
      .select(col("p_brand").as("trademark"), col("p_type").as("category1"),
        col("user_id"), col("order_id"), lit(1L).as("item_ct"),
        col("split_total_amount").cast("decimal(38,4)").as("amount_sum")))
  }

  private def read(s: SparkSession, d: String, t: Table): DataFrame = {
    val base = StoreDirs.store(s, "dws", d)(build(s, d, _))
    Tables.read(s, s"$base/${t.name}")
  }

  /** Events per (event_type, user): `pv`, `value_cents` (the sum of
    * `round(value*100)` as `long`). */
  def byTypeUser(s: SparkSession, d: String): DataFrame =
    read(s, d, trafficType)

  /** Events per (hour of `ts`, user): `pv`, `signup_ct`. */
  def byHourUser(s: SparkSession, d: String): DataFrame =
    read(s, d, trafficHour)

  /** Events per (user, `to_date(ts)`): `pv`, `view_ct`, `signup_ct`,
    * `value_dec` (the sum of `value` as `decimal(18,6)`). One row per
    * active user-day. */
  def byUserDay(s: SparkSession, d: String): DataFrame = read(s, d, trafficDay)

  /** Orders per customer with the customer's `n_name` (NULL without a
    * matching customer and nation): `order_ct`, `open_ct` (status `O`),
    * `fulfilled_ct` (status `F`), `price_sum`. */
  def byCustomer(s: SparkSession, d: String): DataFrame = read(s, d, trade)

  /** Line items ⋈ part per (brand, type, size, return flag): `item_ct`,
    * `ext_sum`. */
  def byPartFlag(s: SparkSession, d: String): DataFrame = read(s, d, commodity)

  /** `DwdStore.latest` ⋈ part per (trademark, category1, user, order):
    * `item_ct`, `amount_sum`. */
  def byTmCatUserOrder(s: SparkSession, d: String): DataFrame =
    read(s, d, tmCatUser)

  /** Fold one micro-batch of events (the `Tables.events` columns) into
    * the traffic tables under `base` — the store directory, or any
    * directory a stream owns. Each table's merge re-aggregates the stored
    * rows together with the batch's per-event measures on the grain
    * keys, so after any batching the tables equal a build over every
    * event folded (the measures are additive; see the object doc). */
  def refresh(s: SparkSession, base: String, events: DataFrame): Unit = {
    val rows = eventRows(events).localCheckpoint()
    traffic.foreach { t =>
      StoreDirs.fold(s, s"$base/${t.name}")(prior =>
        t.roll(prior.fold(rows)(_.unionByName(
          rows.select((t.keys ++ t.measures).map(col): _*)))))
    }
    Relational.unpersistCheckpoint(rows)
  }
}
