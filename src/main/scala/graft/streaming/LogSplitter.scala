package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BaseLogApp-equivalent log splitting (SURVEY O1 + O10).
  *
  * Reference semantics (BaseLogApp.java:52-200): parse each raw line;
  * unparseable lines go to a dirty side-output; parsed events fan out to
  * five streams — err / start / display / action / page — where the two
  * array streams explode `displays[]`/`actions[]` re-parented with
  * `common` + `page` + `ts`.
  *
  * Spark-first shape: `from_json` returns NULL on bad input (that IS the
  * dirty branch — no try/catch per record), and the five outputs are five
  * filtered projections of ONE parsed DataFrame. In streaming the caller
  * wraps this in `foreachBatch` and writes each branch to its sink. Nothing
  * here caches: each branch written is its own job and re-runs the parse,
  * so the caller persists the micro-batch before writing the branches (the
  * source is then read once) and unpersists it after. All transforms are
  * pure `DataFrame => DataFrame` so the same code serves the batch oracle
  * and the stream.
  */
object LogSplitter {

  /** Parse raw JSON lines; adds a `parsed` struct column (null ⇒ dirty). */
  def parse(raw: DataFrame, rawCol: String = "line"): DataFrame =
    raw.withColumn("parsed", from_json(col(rawCol), LogSchemas.logEvent))

  /** Lines that failed to parse — the dirty side output (O1). */
  def dirty(parsed: DataFrame): DataFrame =
    parsed.filter(col("parsed").isNull ||
      (col("parsed.page").isNull && col("parsed.start").isNull &&
       col("parsed.err").isNull))

  /** Error events. */
  def errStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("parsed.err").isNotNull)
      .select(col("parsed.common").as("common"), col("parsed.err").as("err"),
        col("parsed.ts").as("ts"))

  /** App-start events. */
  def startStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("parsed.start").isNotNull)
      .select(col("parsed.common").as("common"),
        col("parsed.start").as("start"), col("parsed.ts").as("ts"))

  /** Page-view events (events that are not app-starts). */
  def pageStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("parsed.start").isNull && col("parsed.page").isNotNull)
      .select(col("parsed.common").as("common"),
        col("parsed.page").as("page"), col("parsed.ts").as("ts"))

  /** Exploded display records, re-parented with common+page+ts (O10). */
  def displayStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("parsed.displays").isNotNull)
      .select(col("parsed.common").as("common"),
        col("parsed.page").as("page"), col("parsed.ts").as("ts"),
        explode(col("parsed.displays")).as("display"))

  /** Exploded action records, re-parented with common+page+ts (O10). */
  def actionStream(parsed: DataFrame): DataFrame =
    parsed.filter(col("parsed.actions").isNotNull)
      .select(col("parsed.common").as("common"),
        col("parsed.page").as("page"), col("parsed.ts").as("ts"),
        explode(col("parsed.actions")).as("action"))

  /** The dirty side output and the five branches, as lazy frames over one
    * parse plan — the foreachBatch body. Each branch written re-runs
    * `from_json` over `raw`; persist `raw` first so none re-reads the
    * source, and unpersist it after the writes. */
  def splitAll(raw: DataFrame, rawCol: String = "line"): Map[String, DataFrame] = {
    val p = parse(raw, rawCol)
    Map(
      "dirty" -> dirty(p),
      "err" -> errStream(p),
      "start" -> startStream(p),
      "page" -> pageStream(p),
      "display" -> displayStream(p),
      "action" -> actionStream(p))
  }
}
