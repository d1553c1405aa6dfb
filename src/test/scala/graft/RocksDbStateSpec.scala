package graft

import graft.streaming.StatefulOps._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Proves the RocksDB state store is LIVE, not just configured: the shared
  * session sets `stateStore.providerClass` (GraftSession), every streaming
  * suite therefore runs on it, and this spec additionally (1) drives the
  * two state-heaviest operators — ingest dedup markers and keep-latest
  * upsert rows — through full round-trips on the provider, and (2) asserts
  * the query progress reports rocksdb* custom metrics, which only the
  * RocksDB provider emits, and (3) pins the checksum that stops a restart
  * from loading a corrupt uploaded snapshot. This is the 100 TB state
  * story executed: keyed state bounded by executor disk, not JVM heap. */
class RocksDbStateSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("session-wide provider is RocksDB") {
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
  }

  test("ingestDedup runs its dedup markers in RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IngestDoc]
    val q = ingestDedup(in.toDS()).writeStream
      .format("memory").queryName("rocks_dd").outputMode(OutputMode.Append)
      .start()
    in.addData(IngestDoc("fpA", 1L, 1000), IngestDoc("fpB", 2L, 1100))
    q.processAllAvailable()
    in.addData(IngestDoc("fpA", 3L, 2000), IngestDoc("fpC", 4L, 2100))
    q.processAllAvailable()
    val rows = spark.table("rocks_dd").as[IngestDoc].collect().sortBy(_.fp)
    val metrics = q.lastProgress.stateOperators(0).customMetrics
    q.stop()
    assert(rows.map(_.docId).toSeq === Seq(1L, 2L, 4L))
    val rocksKeys = metrics.keySet().toArray.map(_.toString)
      .filter(_.startsWith("rocksdb"))
    assert(rocksKeys.nonEmpty,
      s"expected rocksdb* state metrics, got ${metrics.keySet()}")
  }

  test("keepLatest holds and flushes its upsert state in RocksDB") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[VersionedRow]
    val withWm = in.toDS().toDF()
      .withColumn("eventTime", timestamp_millis(col("opTs")))
      .withWatermark("eventTime", "0 seconds")
      .as[VersionedRow]
    val q = keepLatest(withWm, flushMs = 5000).writeStream
      .format("memory").queryName("rocks_kl").outputMode(OutputMode.Append)
      .start()
    in.addData(
      VersionedRow("k1", 1000, "v1"),
      VersionedRow("k1", 5000, "v5"))
    q.processAllAvailable()
    in.addData(VersionedRow("k2", 60000, "adv")) // watermark past flush
    q.processAllAvailable()
    val metrics = q.lastProgress.stateOperators(0).customMetrics
    val flushed = spark.table("rocks_kl").as[VersionedRow].collect()
    q.stop()
    assert(flushed.exists(r => r.key == "k1" && r.payload == "v5"))
    assert(metrics.keySet().toArray.map(_.toString)
      .exists(_.startsWith("rocksdb")),
      s"expected rocksdb* state metrics, got ${metrics.keySet()}")
  }

  test("a flipped byte in an uploaded RocksDB snapshot fails the restart " +
      "instead of loading corrupt state") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.StreamingQueryException
    // Spark writes its own checksum sidecar (`<n>.zip.crc`) for every
    // snapshot, but in Spark 4.1 the RocksDB load path reads the snapshot
    // zip and its SSTs through the Hadoop `FileSystem`, not through the
    // checksum-verifying checkpoint file manager: the guard that fires is
    // Hadoop's `.crc` (`ChecksumFileSystem`, which the fork-free `file:`
    // FileSystem keeps). `FileContext` reads verify nothing (LocalFsSpec).
    assert(spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      === "true")
    val src = Files.createTempDirectory("ckssrc").toString
    val out = Files.createTempDirectory("cksout").toString
    val ckpt = Files.createTempDirectory("cksckpt").toString
    val schema = "key STRING, opTs LONG, payload STRING"
    // file i: keys k0..k19 at event time t + k, or one far-ahead `flush`
    // row whose watermark passes every held key's timer
    def file(i: Int, t: Long, keys: Int = 20): Unit =
      Files.write(Paths.get(src, f"f$i%02d.json"), (0 until keys).map(k =>
        s"""{"key":"${if (keys == 1) "flush" else s"k$k"}","opTs":${t + k},""" +
          s""""payload":"p$i-$k"}""").mkString("\n").getBytes("UTF-8"))
    def start() = keepLatestTws(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src)
        .withColumn("eventTime", timestamp_millis(col("opTs")))
        .withWatermark("eventTime", "0 seconds").as[VersionedRow])
      .toDF().writeStream.format("parquet")
      .option("checkpointLocation", ckpt).start(out)
    def sinkRows() = spark.read.parquet(out).as[VersionedRow].collect().toSet

    file(0, 1000000L)
    file(1, 1001000L)
    file(2, 10000000L, keys = 1)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    val before = sinkRows()
    assert(before.size === 20, s"flushed before the stop: $before")
    // the latest snapshot of partition 0: every partition loads its latest
    // version on the first batch after the restart
    val part = Paths.get(ckpt, "state", "0", "0").toFile
    val victim = part.listFiles().filter(_.getName.matches("\\d+\\.zip"))
      .maxBy(_.getName.stripSuffix(".zip").toLong)
    val raf = new java.io.RandomAccessFile(victim, "rw")
    try {
      val pos = raf.length / 2
      raf.seek(pos)
      val b = raf.read()
      raf.seek(pos)
      raf.write(b ^ 0xff)
    } finally raf.close()

    // on healthy state these would flush 20 more rows
    file(3, 20000000L)
    file(4, 30000000L, keys = 1)
    val q2 = start()
    val err = try intercept[StreamingQueryException](q2.processAllAvailable())
      finally q2.stop()
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(c =>
      c.isInstanceOf[org.apache.hadoop.fs.ChecksumException] &&
        c.getMessage.contains(victim.getName)),
      s"restart did not fail on the corrupt snapshot: " +
        causes.map(c => s"${c.getClass.getName}: ${c.getMessage}"))
    assert(sinkRows() === before, "a batch ran on the corrupt state")
  }
}
