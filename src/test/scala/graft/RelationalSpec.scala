package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session; suites are cheap). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]").getOrCreate()
    GraftSession.registerFunctions(s)
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** A copy of [[sf]] under a new path, so every store built from it is
    * built afresh instead of found in the memo. */
  def freshSf(): String = {
    val dir = java.nio.file.Files.createTempDirectory("sfcopy")
    new java.io.File(sf).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("every registered query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, TestSession.sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("every query is oracle-checked — the rows-only opt-out set is empty") {
    // adding a query without an oracle silently weakens the driver gate to
    // a rows-only check. Even the two sketch queries carry oracles now:
    // the bracket-oracle pattern (the query emits the sketch's accuracy
    // check as a 0/1 column, the oracle asserts it) — see
    // Relational.distinctUsersApprox.
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked === Set.empty[String],
      s"queries missing oracles: $unchecked")
  }

  test("shared-oracle census: only the declared face groups share an " +
      "oracle string") {
    // an alternate implementation of a query registers that query's DuckDB
    // SQL verbatim; the groups that still do are declared here, so a new
    // face fails this test and a folded group must leave the list
    val declared = Set(
      Set("q_basket_communities", "q_basket_communities_bucketed",
        "q_basket_communities_copart"),
      Set("q_scd2_history", "q_scd2_incremental"),
      Set("q_ads_keyword_stats", "q_ads_keyword_lateral"))
    val shared = SparkEntry.oracleSql.groupBy(_._2).values
      .map(_.keySet).filter(_.size > 1).toSet
    assert(shared === declared,
      s"undeclared: ${shared -- declared}; gone: ${declared -- shared}")
  }

  test("every Bench store probe names a registered query") {
    // Bench throws on such a probe when it runs; this catches it first
    val missing = Bench.storeProbes.map(_._2)
      .filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, "store probes naming unregistered queries: " +
      missing.mkString(", "))
    // run in Bench's order on a fresh input, each probe builds exactly
    // the one store its tag names, so the record charges every build to
    // its own line and no build lands in the sweep
    val d = TestSession.freshSf()
    def storeDirs: Set[String] =
      Option(new java.io.File(graft.ops.StoreDirs.rootDir).list())
        .fold(Set.empty[String])(_.toSet)
    Bench.storeProbes.foreach { case (tag, qn) =>
      val before = storeDirs
      SparkEntry.queries(qn)(spark, d).queryExecution.toRdd.count()
      val added = storeDirs -- before
      assert(added.size === 1 && added.head.startsWith(tag + "_"),
        s"probe $tag ($qn) added ${added.mkString(", ")}")
    }
  }

  test("lag-gap sessionizer agrees with native session_window") {
    import org.apache.spark.sql.functions._
    // two independent 30-min-gap sessionizers over the same events must
    // count the same sessions per user
    val viaLag = graft.ops.Relational.sessionize(spark, TestSession.sf)
      .select(col("user_id"), col("n_sessions")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaNative = graft.ops.WindowOps.sessionWindow(spark, TestSession.sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLag === viaNative)
  }

  test("approx distinct tracks exact distinct within the configured rsd") {
    import org.apache.spark.sql.functions.col
    val exact = graft.ops.Relational.distinctUsers(spark, TestSession.sf)
      .select(col("event_type"), col("uv")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.ops.Relational
      .distinctUsersApproxRaw(spark, TestSession.sf)
      .select(col("event_type"), col("uv_approx")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, est) =>
      val ex = exact(k).toDouble
      assert(math.abs(est - ex) / ex <= 0.05,
        s"$k: approx $est vs exact $ex beyond 5%")
    }
  }

  test("approx quantiles are rank-correct (the sketch's actual guarantee)") {
    import org.apache.spark.sql.functions._
    // percentile_approx promises RANK error (≤ 1/accuracy), not value
    // error — at a jumpy tail a one-position rank slip can move the VALUE
    // by several percent, so the right check is quantile bracketing:
    // a is a valid (p±eps) quantile iff count(<a)/n ≤ p+eps and
    // count(≤a)/n ≥ p−eps.
    val cents = graft.Tables.events(spark, TestSession.sf)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    val approx = graft.ops.Relational
      .valueQuantilesApproxRaw(spark, TestSession.sf)
      .select(col("event_type"), col("p50_approx"), col("p90_approx"),
        col("p99_approx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(approx.keySet == cents.keySet)
    val eps = 0.01
    approx.foreach { case (k, (a50, a90, a99)) =>
      val vs = cents(k); val n = vs.length.toDouble
      Seq((a50, 0.50, "p50"), (a90, 0.90, "p90"), (a99, 0.99, "p99")).foreach {
        case (a, p, lbl) =>
          val below = vs.count(_ < a) / n
          val atOrBelow = vs.count(_ <= a) / n
          assert(below <= p + eps && atOrBelow >= p - eps,
            s"$k $lbl: $a has rank window [$below, $atOrBelow], target $p±$eps")
      }
    }
  }

  test("quantile rollup: merged-sample estimates are rank-correct against " +
      "the raw population at every grain") {
    import org.apache.spark.sql.functions._
    // the gate proves merge identity (Spark merges, DuckDB computes
    // direct); this pins the statistical claim — a k=128 sample's p50 /
    // p90 estimates land within a ±3σ rank band of the target
    val pop = graft.Tables.events(spark, TestSession.sf)
      .filter(col("value").isNotNull)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byDay = pop.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sorted }
    val all = pop.map(_._2).sorted
    val rows = graft.ops.Relational.quantileRollup(spark, TestSession.sf)
      .select(col("grain"), col("bucket"), col("est_p50"), col("est_p90"))
      .collect()
    assert(rows.exists(_.getString(0) == "all") && rows.length > 1)
    rows.foreach { r =>
      val vs = if (r.getString(0) == "all") all else byDay(r.getString(1))
      val n = vs.length.toDouble
      Seq((r.getLong(2), 0.50, 0.14), (r.getLong(3), 0.90, 0.09)).foreach {
        case (est, p, band) =>
          val below = vs.count(_ < est) / n
          val atOrBelow = vs.count(_ <= est) / n
          assert(below <= p + band && atOrBelow >= p - band,
            s"${r.getString(1)} p$p: $est rank [$below, $atOrBelow] " +
              s"outside $p±$band")
      }
    }
  }

  test("ordered funnel: stages monotonically narrow and completion is " +
      "live on both sides (some users complete, some don't)") {
    val r = graft.ops.Relational.funnelOrder(spark, TestSession.sf)
      .collect().head
    val (users, view, vc, full) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(users >= view && view >= vc && vc >= full,
      s"funnel not monotone: $users/$view/$vc/$full")
    assert(full > 0, "degenerate: nobody completes the ordered funnel")
    assert(full < vc, "degenerate: ordering adds no constraint")
    assert(!r.isNullAt(4) && r.getDouble(4) > 0.0)
  }

  test("dq checks classify planted dirty rows: null fk is NOT an orphan, " +
      "dup pks and true orphans are counted") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // pk 10 duplicated; custkey 99 has no parent; one NULL fk; one price <= 0
    val orders = Seq(
      (10L, Option(1L), "50.00"), (10L, Option(1L), "60.00"),
      (11L, Option(99L), "70.00"), (12L, None, "80.00"),
      (13L, Option(2L), "-5.00"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Seq(1L, 2L).toDF("c_custkey")
    val m = graft.ops.Relational.dqChecksOf(orders, customer)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(m("row_count") === ((5.0, 1L)))
    assert(m("null_custkey") === ((1.0, 0L)))   // the None fk, failing
    assert(m("pk_dups") === ((1.0, 0L)))        // one extra pk-10 row
    assert(m("orphan_custkey") === ((1.0, 0L))) // custkey 99 only — NOT the null
    assert(m("min_price") === ((-5.0, 0L)))
  }

  test("7-day back-flow counts gap>7 transitions only") {
    import org.apache.spark.sql.functions._
    val out = graft.ads.AdsQueries.userBack(spark, TestSession.sf)
    val total = out.agg(sum(col("back_ct"))).head().getLong(0)
    val uu = out.agg(sum(col("uu_ct"))).head().getLong(0)
    // every back visit is also a unique visit; first-ever days can't be
    // back; and the testdata's sparse view stream must yield SOME backs or
    // the metric is degenerate
    assert(total > 0 && total < uu)
  }

  test("back-flow boundary: a 7-day gap is NOT a back visit, an 8-day " +
      "gap is (DwsUserUserLoginWindow.java:114 — strict > 7)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // day0 = 2024-01-01 UTC. user 1 returns on day 7 (gap exactly 7 →
    // below the boundary), user 2 on day 8 (gap 8 → back), user 3 never
    // returns; user 1 has two same-day events (distinct-day rule).
    val d0 = 1704067200L
    val tmp = java.nio.file.Files.createTempDirectory("backflow").toString
    Seq(
      (1L, d0 + 3600L,              1L, "view"),
      (2L, d0 + 7200L,              1L, "view"),
      (3L, d0 + 7L * 86400 + 3600L, 1L, "view"),
      (4L, d0 + 1800L,              2L, "view"),
      (5L, d0 + 8L * 86400 + 1800L, 2L, "view"),
      (6L, d0 + 900L,               3L, "view"))
      .toDF("event_id", "epoch", "user_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("epoch"))).drop("epoch")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // userBack reads the DWS store, whose one build reads every input
    // table: the rest come from sf0.001
    new java.io.File(TestSession.sf).listFiles()
      .filterNot(_.getName == "events.parquet").foreach(f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(tmp, f.getName)))
    val got = graft.ads.AdsQueries.userBack(spark, tmp)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === Map(
      "2024-01-01" -> ((3L, 0L)),   // all three users, no history
      "2024-01-08" -> ((1L, 0L)),   // user 1: gap == 7, NOT back
      "2024-01-09" -> ((1L, 1L))))  // user 2: gap == 8, back
  }

  test("pricing summary sums accumulate exactly and emit as double") {
    // money accumulates in DECIMAL internally and is emitted as DOUBLE at
    // the query boundary (driver-hasher parity — see Relational scaladoc)
    val row = Relational0.pricing(spark).filter("l_returnflag = 'A'").head()
    assert(row.getAs[Double]("sum_base") > 0.0)
    assert(row.getAs[Double]("sum_disc_price") > 0.0)
  }

  test("conversion window: both arms live (some cohorts convert " +
      "partially) and counts are consistent") {
    val rows = graft.ops.Relational.conversionWindow(spark, TestSession.sf)
      .collect()
    assert(rows.nonEmpty)
    val signups = rows.map(_.getAs[Long]("n_signups")).sum
    val converted = rows.map(_.getAs[Long]("n_converted")).sum
    assert(converted > 0L, "degenerate: nobody converts in 24h")
    assert(converted < signups,
      "degenerate: everyone converts — the window bounds nothing")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_converted") <= r.getAs[Long]("n_signups"))
      val rate = r.getAs[Double]("conv_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("attribution conserves revenue per model and never credits a " +
      "purchase to itself") {
    val rows = graft.ops.Relational.attribution(spark, TestSession.sf)
      .collect()
    val models = rows.groupBy(_.getAs[String]("model"))
    assert(models.keySet === Set("first", "last"))
    // every purchase is attributed exactly once per model ⇒ both models
    // see the same purchase count and the same total cents
    val totals = models.map { case (m, rs) =>
      m -> ((rs.map(_.getAs[Long]("n_purchases")).sum,
        rs.map(_.getAs[Long]("revenue_cents")).sum))
    }
    assert(totals("first") === totals("last"))
    // the -1-preceding frame: a purchase can never be its own touch
    assert(!rows.exists(_.getAs[String]("channel") == "purchase"))
    // shares partition the model's revenue
    models.values.foreach { rs =>
      val s = rs.map(_.getAs[Double]("revenue_share")).sum
      assert(math.abs(s - 1.0) < 1e-9, s"shares sum to $s")
    }
  }
}

/** Small helper so the spec reads naturally. */
object Relational0 {
  def pricing(s: SparkSession) =
    graft.ops.Relational.pricingSummary(s, TestSession.sf)
}
