package graft.sources

import graft.streaming.LogSchemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Kafka source/sink surface (SURVEY S1–S4) as thin, typed wrappers over
  * Structured Streaming's kafka connector. No broker (and no kafka
  * artifact at all — coursier is offline) exists in the test container, so
  * the connector boundary itself is compile-checked configuration; the
  * full pipeline AROUND the byte transport — producer encode → topic log →
  * readStream decode → null tolerance → keepLatestTws upsert
  * reconstruction — is exercised end-to-end over a streaming file channel
  * in KafkaContractSpec.
  *
  * Reference mapping:
  *   S1 readStrings   ← MyKafkaUtil.getFlinkKafkaConsumer (null-tolerant:
  *                      Kafka null payloads arrive as null `value`, kept)
  *   S2 writeStrings  ← MyKafkaUtil.getFlinkKafkaProducer
  *   S3 readLogTable  ← MyKafkaUtil.getKafkaDDL (JSON table, latest offset)
  *   S5 readCdcTable  ← MyKafkaUtil.getTopicDbDDL (Maxwell envelope)
  *   S4 writeUpsert   ← MyKafkaUtil.getUpsertKafkaDDL — Spark has no
  *                      changelog topic; the convention (SURVEY §7.3) is a
  *                      pk-keyed append where readers run keepLatestTws
  *                      (graft.streaming.StatefulOps) to reconstruct the
  *                      upsert view. Retractions are not emitted; the
  *                      left-join rows appear once, post-watermark.
  */
object KafkaIO {

  def readStrings(spark: SparkSession, brokers: String, topic: String,
                  startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .selectExpr("CAST(value AS STRING) AS line", "timestamp AS kafka_ts")

  /** S3: behavior-log JSON table. */
  def readLogTable(spark: SparkSession, brokers: String, topic: String): DataFrame =
    readStrings(spark, brokers, topic)
      .select(from_json(col("line"), LogSchemas.logEvent).as("e"), col("kafka_ts"))
      .select(col("e.*"), col("kafka_ts"))

  /** S5: Maxwell CDC envelope table with batch-eval proc-time. */
  def readCdcTable(spark: SparkSession, brokers: String, topic: String): DataFrame =
    readStrings(spark, brokers, topic)
      .select(from_json(col("line"), LogSchemas.cdcEnvelope).as("e"))
      .select(col("e.*"), current_timestamp().as("pt"))

  /** S2: value-only JSON producer. */
  def writeStrings(df: DataFrame, brokers: String, topic: String,
                   checkpoint: String): DataStreamWriter[Row] =
    df.selectExpr("CAST(value AS STRING) AS value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** S4: pk-keyed append standing in for upsert-kafka — key = pk column,
    * value = row JSON; consumers reconstruct latest-per-key. */
  def writeUpsert(df: DataFrame, pkCol: String, brokers: String, topic: String,
                  checkpoint: String): DataStreamWriter[Row] =
    df.select(col(pkCol).cast("string").as("key"),
        to_json(struct(df.columns.map(col): _*)).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Batch-side encode used by writeUpsert — exposed for tests. */
  def upsertEncode(df: DataFrame, pkCol: String): DataFrame =
    df.select(col(pkCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))
}
