package graft

import graft.ops.{BucketStore, Relational}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The whole point of [[BucketStore]] is the PLAN, not just the numbers:
  * an orderkey equi-join of the two bucketed tables must execute as a
  * SortMergeJoin with NO shuffle exchange and NO explicit sort on either
  * side — the bucketed scan's HashPartitioning + one-sorted-file-per-
  * bucket layout satisfies the join's required distribution and ordering.
  * This spec pins that on the registered queries that read the store
  * (`revenueByPriority`, `orderLineStats`, `basketPairs`), plus result
  * equality against plain-parquet spellings of the same joins and
  * rollups written here (the oracle-level proof is the DuckDB SQL; this
  * is the faster in-JVM version of the same claim). */
class BucketJoinSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val sf = TestSession.sf

  private def executedPlan(df: DataFrame): String = {
    df.collect() // materialize so AQE's FINAL plan is what we read
    df.queryExecution.executedPlan.toString
  }

  private def hashExchanges(plan: String): Seq[String] =
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq

  // the same join and rollups over the plain parquet tables
  private def plainRevenueByPriority(d: String): DataFrame =
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"))

  private def plainOrderLineStats: DataFrame =
    Tables.lineitem(spark, sf).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("qty_sum"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))

  private def plainBasketPairs: DataFrame = {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("p1").asc, col("p2").asc)
      .limit(20)
  }

  test("bucketed orderkey join runs with zero shuffle and zero sort") {
    val joined = BucketStore.lineitem(spark, sf).hint("merge")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(BucketStore.orders(spark, sf).hint("merge")
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
    val plan = executedPlan(joined)
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("ShuffleExchange"),
      s"bucketed join must not shuffle:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not re-exchange:\n$plan")
    // one sorted file per bucket (pre-repartitioned write) ⇒ the scan
    // satisfies the SMJ's ordering requirement; no Sort node
    assert(!plan.contains("Sort "),
      s"bucketed+sorted scan should satisfy SMJ ordering:\n$plan")

    // the registered query runs that join: its only exchange is the
    // priority-grain rollup, never the orderkey, and nothing sorts
    val q = executedPlan(Relational.revenueByPriority(spark, sf))
    assert(q.contains("SortMergeJoin"), s"expected SMJ in:\n$q")
    assert(!q.contains("Sort "), s"q_rev_by_priority sorts:\n$q")
    hashExchanges(q).foreach { e =>
      assert(!e.contains("orderkey"),
        s"orderkey exchange in q_rev_by_priority: $e\n$q")
    }
  }

  test("bucketed basket self-join: the only exchange is the pair-grain " +
      "count, never the orderkey; result equals the plain spine") {
    val df = Relational.basketPairs(spark, sf)
    val plan = executedPlan(df)
    // the distinct and the items^2 self-join both ride the scan's
    // HashPartitioning(l_orderkey); what remains is the inherent
    // (p1, p2) support count (+ AQE reading its output) — no exchange
    // may hash the orderkey
    val exchanges = hashExchanges(plan)
    assert(exchanges.nonEmpty, s"pair-grain count must exchange:\n$plan")
    exchanges.foreach { e =>
      assert(!e.contains("ok#") && !e.contains("l_orderkey"),
        s"orderkey exchange survived bucketing: $e\n$plan")
      assert(e.contains("p1#") || e.contains("pk#"),
        s"unexpected exchange: $e\n$plan")
    }
    val a = plainBasketPairs.collect().toSeq
    val b = df.collect().toSeq
    assert(a == b, "bucketed basket spine diverged from the plain one")
  }

  test("bucketed rewrite equals the plain-parquet join result") {
    val a = plainRevenueByPriority(sf)
      .orderBy("o_orderpriority").collect().toSeq
    val b = Relational.revenueByPriority(spark, sf)
      .orderBy("o_orderpriority").collect().toSeq
    assert(a == b)
  }

  test("bucketed tables hold one file per bucket") {
    // the sort-elimination above is only sound when each bucket is a
    // single file; pin the writer's repartition-before-bucketBy contract
    // on this corpus's lineitem table
    val files = BucketStore.lineitem(spark, sf).inputFiles
    assert(files.forall(_.endsWith(".parquet")), files.mkString("\n"))
    assert(files.length == BucketStore.NBuckets,
      s"expected ${BucketStore.NBuckets} bucket files, found " +
        files.mkString("\n"))
  }

  test("bucketed per-key aggregation runs with ZERO exchanges; the plain " +
      "variant pays one") {
    val bucketed = Relational.orderLineStats(spark, sf)
    val planB = executedPlan(bucketed)
    assert(!planB.contains("Exchange"),
      s"bucket-key groupBy must be exchange-free:\n$planB")

    val plain = plainOrderLineStats
    val planP = executedPlan(plain)
    assert(planP.contains("Exchange"),
      "baseline lost its exchange — the comparison is vacuous")

    val a = bucketed.orderBy("l_orderkey").collect().toSeq
    val b = plain.orderBy("l_orderkey").collect().toSeq
    assert(a == b)
  }

  test("a rewritten input is re-bucketed, never served from the stale " +
      "bucketed copy") {
    val tmp = java.nio.file.Files.createTempDirectory("bucketfresh")
    try {
      val d = tmp.toString
      def put(df: DataFrame, table: String): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$d/$table.parquet")
      put(Tables.orders(spark, sf), "orders")
      put(Tables.lineitem(spark, sf), "lineitem")
      def rows(df: DataFrame) = df.orderBy("o_orderpriority").collect().toSeq
      val before = rows(Relational.revenueByPriority(spark, d))
      assert(before == rows(plainRevenueByPriority(d)))

      // regenerate orders in place with every third order re-prioritized
      put(Tables.orders(spark, sf)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 3 === 0, lit("1-URGENT"))
            .otherwise(col("o_orderpriority"))), "orders")
      val expected = rows(plainRevenueByPriority(d))
      assert(expected != before, "the rewrite changed no result row")
      assert(rows(Relational.revenueByPriority(spark, d)) == expected)
    } finally {
      def delete(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(delete)); f.delete(): Unit
      }
      delete(tmp.toFile)
    }
  }
}
