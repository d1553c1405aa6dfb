package graft

import graft.ops.StoreDirs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Tables.read]]'s per-JVM schema memo: a read of unchanged files
  * launches no inference job, and every way a path's files can change —
  * an in-place overwrite with a new column type, a durable store swap, a
  * new fold dir — is re-inferred, while the map keeps one entry per path.
  * Job counts come from a public `SparkListener`; jobs are attributed by
  * a thread-local property, and a tagged sentinel job run after the body
  * proves the asynchronous listener bus has delivered every body job. */
class SchemaMemoSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private val probeKey = "graft.schemaMemoSpec.probe"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("schemamemo").toString

  /** Runs `body` and counts the Spark jobs it launched on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probeKey)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probeKey, "body")
      val out = body
      sc.setLocalProperty(probeKey, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("sentinel"), "listener never saw the sentinel")
      (out, seen.asScala.count(_ == "body"))
    } finally {
      sc.setLocalProperty(probeKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("a second Tables.load of an unchanged file launches zero Spark jobs") {
    val dir = tmp()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSession.sf, "lineitem.parquet"),
      java.nio.file.Paths.get(dir, "lineitem.parquet"))
    val (first, inferJobs) = jobsOf(Tables.load(spark, dir, "lineitem"))
    assert(inferJobs >= 1, "a first read must infer (counter liveness)")
    val (second, memoJobs) = jobsOf(Tables.load(spark, dir, "lineitem"))
    assert(memoJobs === 0)
    assert(second.schema === first.schema)
    assert(second.count() === first.count())
  }

  test("a file overwritten at the same path with a new ts type is " +
      "re-inferred, and Tables.events normalizes both shapes") {
    val dir = tmp()
    val path = s"$dir/events.parquet"
    val nanos = 1700000000123456000L
    Seq((1L, nanos)).toDF("user_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, dir, "events").schema("ts").dataType === LongType)
    val fromNanos = Tables.events(spark, dir).select("ts").head().get(0)

    Seq(1L).toDF("user_id")
      .withColumn("ts", timestamp_micros(lit(nanos / 1000)))
      .coalesce(1).write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, dir, "events").schema("ts").dataType ===
      TimestampType)
    val events = Tables.events(spark, dir)
    assert(events.schema("ts").dataType === TimestampType)
    assert(events.select("ts").head().get(0) === fromNanos)
    assert(fromNanos ===
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0, nanos)))
  }

  test("a store rewritten by StoreDirs.durableOverwrite is read with its " +
      "new schema") {
    val dir = s"${tmp()}/store"
    StoreDirs.fold(spark, dir)(_ => Seq(1L, 2L).toDF("id"))
    assert(Tables.read(spark, dir).schema.fieldNames.toSeq === Seq("id"))
    StoreDirs.fold(spark, dir)(_ => Seq((3L, "c")).toDF("id", "tag"))
    val after = Tables.read(spark, dir)
    assert(after.schema.fieldNames.toSeq === Seq("id", "tag"))
    assert(rows(after) === Seq(Row(3L, "c")))
  }

  test("a multi-path read of batch= fold dirs and a partitioned read " +
      "return the same schema and rows on a memo hit as on a miss") {
    val base = tmp()
    def fold(b: Int): Unit =
      Seq((b * 10L, "x"), (b * 10L + 1, "y")).toDF("doc_id", "source")
        .write.mode("overwrite").parquet(s"$base/surv/batch=$b")
    (0 until 3).foreach(fold)
    val dirs = (0 until 3).map(b => s"$base/surv/batch=$b")
    val (miss, missJobs) = jobsOf(Tables.read(spark, dirs: _*))
    assert(missJobs >= 1)
    val (hit, hitJobs) = jobsOf(Tables.read(spark, dirs: _*))
    assert(hitJobs === 0)
    assert(hit.schema === miss.schema)
    assert(rows(hit) === rows(miss))
    assert(rows(hit).size === 6)
    // one more fold: a new identity under the same parent is re-inferred
    // and replaces the parent's entry instead of adding one per batch
    fold(3)
    val size = Tables.schemaMemoSize
    assert(Tables.read(spark, dirs :+ s"$base/surv/batch=3": _*)
      .count() === 8)
    assert(Tables.schemaMemoSize === size)

    // the CdcOps dim-store layout: one path, partition column discovered
    // from `_pk_bucket=` dirs and typed by inference
    val dim = s"$base/dim"
    Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1)).toDF("id", "name", "_pk_bucket")
      .write.mode("overwrite").partitionBy("_pk_bucket").parquet(dim)
    val (pMiss, pMissJobs) = jobsOf(Tables.read(spark, dim))
    val (pHit, pHitJobs) = jobsOf(Tables.read(spark, dim))
    assert(pMissJobs >= 1 && pHitJobs === 0)
    assert(pHit.schema === pMiss.schema)
    assert(pHit.schema.fieldNames.toSeq === Seq("id", "name", "_pk_bucket"))
    assert(pHit.schema("_pk_bucket").dataType === IntegerType)
    assert(rows(pHit.filter(col("_pk_bucket") === 1)) ===
      rows(pMiss.filter(col("_pk_bucket") === 1)))
    assert(rows(pHit) === rows(pMiss))
  }

  test("a missing path still raises PATH_NOT_FOUND and caches nothing") {
    val dir = tmp()
    val size = Tables.schemaMemoSize
    (1 to 2).foreach { _ =>
      val e = intercept[AnalysisException](Tables.load(spark, dir, "absent"))
      assert(Option(e.getCondition).exists(_.contains("PATH_NOT_FOUND")))
    }
    assert(Tables.schemaMemoSize === size)
  }

  test("N rewrites of one path leave one memo entry for it") {
    val path = s"${tmp()}/t"
    val size = Tables.schemaMemoSize
    (1 to 5).foreach { i =>
      val df = if (i % 2 == 0) Seq(i.toLong).toDF("a")
        else Seq((i.toLong, i.toString)).toDF("a", "b")
      df.write.mode("overwrite").parquet(path)
      val read = Tables.read(spark, path)
      assert(read.schema.fieldNames.toSeq === df.schema.fieldNames.toSeq)
      assert(rows(read) === rows(df))
    }
    assert(Tables.schemaMemoSize === size + 1)
  }

  test("a change to an inference conf re-infers the same files") {
    // the generated events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false):
    // inferTimestampNTZ decides whether it reads as TIMESTAMP or _NTZ
    val dir = tmp()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(TestSession.sf, "events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val k = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.get(k)
    def tsType = Tables.load(spark, dir, "events").schema("ts").dataType
    try {
      spark.conf.set(k, "false")
      assert(tsType === TimestampType)
      spark.conf.set(k, "true")
      assert(tsType === TimestampNTZType)
      spark.conf.set(k, "false")
      assert(tsType === TimestampType)
    } finally spark.conf.set(k, prev)
  }
}
