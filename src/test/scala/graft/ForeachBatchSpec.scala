package graft

import graft.streaming.{CdcOps, LogSplitter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end micro-batch pipelines: the foreachBatch shapes the reference's
  * jobs map onto — BaseLogApp's 5-sink split and DimApp's config-driven
  * dim materialization — driven as real streams over MemoryStream. */
class ForeachBatchSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("BaseLogApp-shaped stream: 5-way split written per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val outRoot = java.nio.file.Files.createTempDirectory("logsplit").toString
    val in = MemoryStream[String]
    val q = in.toDF().toDF("line").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try LogSplitter.splitAll(batch).foreach { case (name, df) =>
          df.write.mode("append").json(s"$outRoot/$name")
        } finally batch.unpersist()
      }
      .start()
    in.addData(
      """{"common":{"mid":"m1"},"page":{"page_id":"home"},"ts":1000}""",
      """{"common":{"mid":"m2"},"start":{"entry":"icon"},"ts":2000}""",
      """garbage""")
    q.processAllAvailable()
    in.addData(
      """{"common":{"mid":"m3"},"page":{"page_id":"detail","last_page_id":"home"},"displays":[{"item":"1","order":1}],"ts":3000}""")
    q.processAllAvailable()
    q.stop()
    def n(branch: String): Long =
      try spark.read.json(s"$outRoot/$branch").count() catch { case _: Exception => 0L }
    assert(n("page") === 2)
    assert(n("start") === 1)
    assert(n("dirty") === 1)
    assert(n("display") === 1)
  }

  test("DimApp-shaped stream: CDC rows routed to dim stores across batches") {
    implicit val sqlCtx = spark.sqlContext
    val sinkRoot = java.nio.file.Files.createTempDirectory("dimsink").toString
    val routes = Seq(CdcOps.TableRoute("base_trademark", "dim_trademark",
      Seq("id", "name"), "id"))
    val in = MemoryStream[String]
    val q = in.toDF().toDF("line").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CdcOps.routeDims(spark, CdcOps.decode(batch), routes, sinkRoot): Unit
      }
      .start()
    val mk = (typ: String, id: String, name: String, ts: Long) =>
      s"""{"database":"g","table":"base_trademark","type":"$typ","ts":$ts,"data":{"id":"$id","name":"$name"},"old":{}}"""
    in.addData(mk("insert", "1", "apple", 100), mk("insert", "2", "pear", 101))
    q.processAllAvailable()
    in.addData(mk("update", "1", "apricot", 200)) // second micro-batch upserts
    q.processAllAvailable()
    q.stop()
    val dim = spark.read.parquet(s"$sinkRoot/dim_trademark")
      .select("id", "name").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dim === Map("1" -> "apricot", "2" -> "pear"))
  }

  test("dim store: overlapping-bucket batches keep latest and spare untouched buckets") {
    implicit val sqlCtx = spark.sqlContext
    val sinkRoot = java.nio.file.Files.createTempDirectory("dimsink2").toString
    val routes = Seq(CdcOps.TableRoute("base_trademark", "dim_tm",
      Seq("id", "name"), "id"))
    val in = MemoryStream[String]
    // nBuckets=2 forces every batch to overlap buckets with every other
    val q = in.toDF().toDF("line").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CdcOps.routeDims(spark, CdcOps.decode(batch), routes, sinkRoot,
          nBuckets = 2): Unit
      }
      .start()
    val mk = (typ: String, id: Int, name: String, ts: Long) =>
      s"""{"database":"g","table":"base_trademark","type":"$typ","ts":$ts,"data":{"id":"$id","name":"$name"},"old":{}}"""
    in.addData((1 to 8).map(i => mk("insert", i, s"v$i", 100)): _*)
    q.processAllAvailable()
    // batch 2: update two pks (hitting both buckets with high probability),
    // and a LATE older version of pk=5 that must NOT win over ts=100
    in.addData(mk("update", 1, "u1", 200), mk("update", 8, "u8", 200),
      mk("update", 5, "stale", 50))
    q.processAllAvailable()
    q.stop()
    val dim = spark.read.parquet(s"$sinkRoot/dim_tm")
      .select("id", "name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val expected = (2 to 7).map(i => i.toString -> s"v$i").toMap ++
      Map("1" -> "u1", "8" -> "u8")
    // pk=5's stale update lost to keep-latest; pks whose bucket batch 2
    // never touched survived the dynamic overwrite untouched
    assert(dim === expected)
  }

  test("dim store: a corrupt existing store FAILS the batch instead of " +
      "silently rebuilding the touched buckets from the batch alone") {
    import spark.implicits._
    val sinkRoot = java.nio.file.Files.createTempDirectory("dimsink3").toString
    val routes = Seq(CdcOps.TableRoute("base_trademark", "dim_bad",
      Seq("id", "name"), "id"))
    val dir = java.nio.file.Paths.get(sinkRoot, "dim_bad")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("part-00000.parquet"),
      "not a parquet footer".getBytes)
    val line =
      """{"database":"g","table":"base_trademark","type":"insert","ts":100,"data":{"id":"1","name":"apple"},"old":{}}"""
    intercept[Exception] {
      CdcOps.routeDims(spark, CdcOps.decode(Seq(line).toDF("line")),
        routes, sinkRoot)
    }
    // and the broken store was NOT overwritten by the failed batch
    assert(java.nio.file.Files.readAllBytes(
      dir.resolve("part-00000.parquet")).length > 0)
  }

  test("dim store: routeDims releases every block set it pins — a " +
      "foreachBatch body must not leave one per micro-batch") {
    import spark.implicits._
    val sinkRoot = java.nio.file.Files.createTempDirectory("dimsink5").toString
    val routes = Seq(
      CdcOps.TableRoute("base_trademark", "dim_tm5", Seq("id", "name"), "id"),
      CdcOps.TableRoute("base_category1", "dim_c5", Seq("id", "name"), "id"))
    val mk = (table: String, id: Int, ts: Long) =>
      s"""{"database":"g","table":"$table","type":"insert","ts":$ts,"data":{"id":"$id","name":"n$id"},"old":{}}"""
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    (1 to 3).foreach { b =>
      CdcOps.routeDims(spark, CdcOps.decode(
        Seq(mk("base_trademark", b, 100L * b), mk("base_category1", b, 100L * b))
          .toDF("line")), routes, sinkRoot, nBuckets = 2)
    }
    // unpersist is asynchronous: wait for the block manager to drop them
    def added = sc.getRDDStorageInfo.filterNot(i => before(i.id))
    val deadline = System.nanoTime() + 10000000000L
    while (added.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(added.isEmpty, "block sets left pinned by routeDims: " +
      added.map(i => s"${i.id}:${i.name}").mkString(", "))
    assert(spark.read.parquet(s"$sinkRoot/dim_tm5").count() === 3)
    assert(spark.read.parquet(s"$sinkRoot/dim_c5").count() === 3)
  }

  test("dim store: same-timestamp versions of a pk pick a deterministic " +
      "winner (total tie-break order)") {
    import spark.implicits._
    def run(): Map[String, String] = {
      val sinkRoot = java.nio.file.Files.createTempDirectory("dimsink4").toString
      val routes = Seq(CdcOps.TableRoute("base_trademark", "dim_tie",
        Seq("id", "name"), "id"))
      val mk = (name: String) =>
        s"""{"database":"g","table":"base_trademark","type":"insert","ts":100,"data":{"id":"1","name":"$name"},"old":{}}"""
      // same pk, same ts, conflicting payloads, adversarial input orders
      CdcOps.routeDims(spark,
        CdcOps.decode(Seq(mk("zebra"), mk("aardvark"), mk("mango"))
          .toDF("line").repartition(3)), routes, sinkRoot)
      spark.read.parquet(s"$sinkRoot/dim_tie").select("id", "name")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val r1 = run(); val r2 = run()
    assert(r1 === r2)
    assert(r1 === Map("1" -> "aardvark")) // asc_nulls_first tie-break = min
  }
}
