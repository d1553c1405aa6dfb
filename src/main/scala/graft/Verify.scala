package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args = run only these queries (local targeted check)
    val only = args.drop(2).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(kv => only(kv._1))
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Files.deleteIfExists(Paths.get(s"$outDir/$name._FAILED"))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // leave a marker so check.py counts the throw as a FAIL instead of
        // the query silently vanishing from the tally (a thrown query
        // writes no dir; dir-based iteration masked q_session_window's
        // break when the round-6 testdata regeneration landed)
        Files.writeString(Paths.get(s"$outDir/$name._FAILED"),
          String.valueOf(e.getMessage))
      }
      // the near-dup/LSH builders cache intermediates for their own
      // multi-consumer plans, and checkpointing queries leak RDD blocks
      // clearCache can't see; drop both between queries (as Bench does)
      // so ~220 queries don't accumulate pinned blocks in one session
      GraftSession.releaseCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(GraftSession.codegenSummary())
    spark.stop()
  }
}
