package graft

import graft.streaming.{DwsWindows, LogSplitter}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The reference's full layered topology as ONE streaming job: ODS (file
  * source) → DWD (LogSplitter page branch, event-time extraction) → DWS
  * (watermarked tumbling window per page_id) → parquet DWS store → ADS
  * (batch query over the store). Asserts the streamed DWS store equals
  * the same transform run in batch over the same lines — the engine's
  * central batch≡streaming claim, end to end rather than per-operator. */
class TopologySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def line(mid: String, page: String, ts: Long): String =
    s"""{"common":{"mid":"$mid"},"page":{"page_id":"$page"},"ts":$ts}"""

  private def dwd(raw: DataFrame): DataFrame =
    LogSplitter.pageStream(LogSplitter.parse(raw))
      .select(timestamp_millis(col("ts")).as("ets"),
        col("page.page_id").as("page_id"), col("common.mid").as("mid"))

  private def dws(pages: DataFrame, wm: Option[String]): DataFrame =
    DwsWindows.tumblingAgg(pages, "ets", "10 seconds",
      keys = Seq(col("page_id")),
      aggs = Seq(count(lit(1)).as("pv_ct"),
        approx_count_distinct(col("mid")).as("uv_est")),
      watermark = wm)

  test("ODS→DWD→DWS→ADS: streamed store equals batch over the same lines") {
    import spark.implicits._
    val src = Files.createTempDirectory("topo_src").toString
    val store = Files.createTempDirectory("topo_dws").toString
    val ckpt = Files.createTempDirectory("topo_ckpt").toString

    val lines = (0 until 200).map { i =>
      line(s"m${i % 17}", if (i % 3 == 0) "home" else "detail",
        1700000000000L + i * 700L)
    }
    writeFile(src, "b1.txt", lines.take(120))

    val q = dws(dwd(spark.readStream.text(src).select(col("value").as("line"))),
        wm = Some("2 seconds"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(store)
      }
      .start()
    q.processAllAvailable()
    writeFile(src, "b2.txt", lines.drop(120))
    q.processAllAvailable()
    // a far-future line pushes the watermark past every real window
    writeFile(src, "flush.txt", Seq(line("mf", "flush", 1800000000000L)))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(store)
      .filter(col("page_id") =!= "flush")
    val want = dws(dwd(lines.toDF("line")), wm = None)
    // ADS-style rollup over the DWS store must agree exactly too
    def ads(df: DataFrame) = df.groupBy(col("page_id"))
      .agg(sum(col("pv_ct")).as("pv"), count(lit(1)).as("n_windows"))
    assert(got.collect().map(_.toSeq).toSet ===
      want.collect().map(_.toSeq).toSet)
    assert(ads(got).collect().map(_.toSeq).toSet ===
      ads(want).collect().map(_.toSeq).toSet)
  }

  test("ingest topology: quality gate → fingerprint dedup as one stream") {
    // The training-data ingest shape: documents stream in, a shuffle-free
    // quality gate drops junk, and ingestDedupTws keeps the first arrival per
    // content fingerprint — duplicates across later batches never land.
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val gated = in.toDF().toDF("doc_id", "text")
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 3)
      .select(md5(col("text")).as("fp"), col("doc_id").as("docId"),
        col("doc_id").as("ts"))
      .as[StatefulOps.IngestDoc]
    val q = StatefulOps.ingestDedupTws(gated).writeStream
      .format("memory").queryName("ingest_topo")
      .outputMode(OutputMode.Append).start()
    in.addData(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"), // same-batch duplicate
      (3L, "hi"))                  // fails the quality gate
    q.processAllAvailable()
    in.addData(
      (4L, "the quick brown fox"), // later-batch duplicate
      (5L, "another perfectly good doc"))
    q.processAllAvailable()
    val rows = spark.table("ingest_topo").as[StatefulOps.IngestDoc]
      .collect().sortBy(_.docId)
    q.stop()
    assert(rows.map(_.docId).toSeq === Seq(1L, 5L),
      s"expected first-arrival survivors only, got ${rows.toSeq}")
  }

  test("ingest decontamination: stream-static broadcast probe flags " +
      "leaked eval spans on every micro-batch") {
    // PLANS.md claims decontamination can run AT INGEST, not as an
    // offline pass — proven here: the eval 8-gram dictionary is a STATIC
    // frame broadcast into a stream-static inner join against the
    // exploded gram stream; a doc containing any eval span is flagged in
    // the micro-batch it arrives in.
    import graft.functions.TextFunctions
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalSpan = "alpha beta gamma delta epsilon zeta eta theta"
    val evalGrams = Seq(evalSpan).toDF("text")
      .select(explode(array_distinct(
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 8)))
        .as("g")).distinct()
    val in = MemoryStream[(Long, String)]
    val flagged = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), explode(array_distinct(
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 8)))
        .as("g"))
      .join(broadcast(evalGrams), Seq("g")) // stream-static inner join
      .select(col("doc_id"))
    val q = flagged.writeStream.format("memory").queryName("decon_topo")
      .outputMode(OutputMode.Append).start()
    in.addData(
      (1L, s"intro words $evalSpan trailing tail"), // span embedded mid-doc
      (2L, "a completely unrelated document with plenty of tokens here"))
    q.processAllAvailable()
    in.addData(
      (3L, "another clean doc with more than eight whitespace tokens in"),
      (4L, evalSpan)) // the leak arrives in a LATER batch
    q.processAllAvailable()
    val got = spark.table("decon_topo").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    assert(got === Set(1L, 4L))
  }

  private def writeFile(dir: String, name: String, ls: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      String.join("\n", ls: _*).getBytes("UTF-8"))
}
