package graft

import graft.sources.KafkaIO
import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.VersionedRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** S1/S2/S4 round-trip contract, broker-less.
  *
  * A real broker cannot exist here: the sandbox has NO kafka artifact at
  * all (no kafka-clients, no spark-sql-kafka connector, and coursier runs
  * offline, so a kafka-server test dependency cannot resolve). What IS
  * testable end-to-end is every stage AROUND the byte transport, with a
  * streaming file channel standing in for the topic log:
  *
  *   producer encode (writeUpsert's key/value projection, S4)
  *     → topic log (append-only files, read back by a REAL readStream)
  *     → consumer decode (CAST value, from_json — the S1/S3 path)
  *     → null tolerance (MyKafkaUtil.java:23-50 deserializer returns null
  *       rather than throwing on a null payload; consumers skip, not crash)
  *     → keep-latest upsert reconstruction (SURVEY §7.3: S4 readers run
  *       StatefulOps.keepLatestTws to rebuild the upsert view).
  *
  * Only the broker's byte shuttle is unexercised — configuration, not
  * logic.
  */
class KafkaContractSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("upsert round-trip: encode → topic log → decode → keepLatest") {
    implicit val sqlCtx = spark.sqlContext
    val topicDir = java.nio.file.Files.createTempDirectory("topic_s4").toString

    // producer side: a changelog with three versions of pk=1, one of pk=2
    val updates = Seq(
      (1L, 1000L, "a"), (1L, 5000L, "c"), (1L, 3000L, "b"),
      (2L, 2000L, "x"))
      .toDF("pk", "op_ts", "v")
    KafkaIO.upsertEncode(updates, "pk")
      .write.mode("append").json(topicDir)
    // a null payload record (Kafka tombstone / the MyKafkaUtil null case)
    Seq(("9", Option.empty[String])).toDF("key", "value")
      .write.mode("append").json(topicDir)
    // a late high-ts record that pushes the watermark far enough for the
    // earlier keys' event-time flush timers to fire
    KafkaIO.upsertEncode(
        Seq((99L, 10000000L, "wm")).toDF("pk", "op_ts", "v"), "pk")
      .write.mode("append").json(topicDir)

    // consumer side: decode + tolerate nulls + reconstruct upsert view
    val payload = new StructType()
      .add("pk", LongType).add("op_ts", LongType).add("v", StringType)
    val src = spark.readStream
      .schema(new StructType().add("key", StringType).add("value", StringType))
      .json(topicDir)
    val decoded = src
      .select(col("key"), from_json(col("value"), payload).as("p"))
      .filter(col("p.op_ts").isNotNull) // null payloads skipped, never throw
      .select(col("key"), col("p.op_ts").as("opTs"), col("p.v").as("payload"))
      .withColumn("eventTime", timestamp_millis(col("opTs")))
      .withWatermark("eventTime", "0 seconds")
      .as[VersionedRow]
    val q = StatefulOps.keepLatestTws(decoded, flushMs = 1000).writeStream
      .format("memory").queryName("kafka_rt").outputMode(OutputMode.Append)
      .start()
    q.processAllAvailable()
    // one more log append so a fresh batch advances timers past the flush
    KafkaIO.upsertEncode(
        Seq((99L, 20000000L, "wm2")).toDF("pk", "op_ts", "v"), "pk")
      .write.mode("append").json(topicDir)
    q.processAllAvailable()
    val rows = spark.table("kafka_rt").as[VersionedRow].collect()
    q.stop()

    val byKey = rows.groupBy(_.key)
    assert(byKey.get("1").map(_.toSeq) === Some(Seq(VersionedRow("1", 5000L, "c"))),
      s"pk=1 must reconstruct to its max-op_ts version, got ${rows.toSeq}")
    assert(byKey.get("2").map(_.toSeq) === Some(Seq(VersionedRow("2", 2000L, "x"))))
    assert(!byKey.contains("9"), "null-payload record must be skipped, not decoded")
  }

  test("upsertEncode key/value contract matches the S4 convention") {
    val df = Seq((7L, "n", 1.5)).toDF("id", "name", "score")
    val out = KafkaIO.upsertEncode(df, "id").collect().head
    assert(out.getString(0) === "7") // key = stringified pk
    val v = out.getString(1)        // value = full-row JSON
    assert(v.contains("\"id\":7") && v.contains("\"name\":\"n\"") &&
      v.contains("\"score\":1.5"))
  }
}
