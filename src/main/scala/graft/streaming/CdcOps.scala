package graft.streaming

import graft.Tables
import graft.ops.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maxwell-style CDC envelope handling (SURVEY S5 + O2/O3) and the
  * config-driven dimension router (F3/S8).
  *
  * The reference reads one Kafka topic (`topic_db`) carrying every binlog
  * row as `{database, table, type, ts, data MAP, old MAP}` and fans it out:
  * DWD jobs filter by (table, type, old-image predicates); DimApp routes
  * rows of configured tables to per-table dim stores with a column
  * keep-list. Spark-first: `from_json` to a typed struct, `element_at` for
  * map access, and the router is a driver-side loop over config rows inside
  * `foreachBatch` — each iteration a filtered projection writing one sink.
  *
  * Writer contract: SINGLE WRITER PER SINK DIRECTORY. Structured Streaming
  * serializes a query's foreachBatch invocations, so batches from one query
  * never overlap; two QUERIES writing the same dim dir would race the
  * read-merge-overwrite cycle (plain parquet has no atomic commit).
  * ForeachBatchSpec stresses the serialized case with overlapping buckets
  * and out-of-order versions; concurrent writers need the Delta/Iceberg
  * MERGE this store's layout anticipates.
  */
object CdcOps {

  /** Decode raw JSON lines to the CDC envelope columns. */
  def decode(raw: DataFrame, rawCol: String = "line"): DataFrame =
    raw.select(from_json(col(rawCol), LogSchemas.cdcEnvelope).as("e"))
      .select(col("e.database"), col("e.table"), col("e.type"),
        col("e.ts"), col("e.data"), col("e.old"))

  /** O2 — select one logical table with optional type + old-image
    * predicates, e.g. order cancellations:
    * `table='order_info' AND type='update' AND old['order_status'] IS NOT
    * NULL AND data['order_status']='1003'`
    * (DwdTradeCancelDetail.java:70-96). */
  def tableStream(cdc: DataFrame, table: String,
                  types: Seq[String] = Nil,
                  oldHas: Option[String] = None,
                  dataEquals: Map[String, String] = Map.empty): DataFrame = {
    var out = cdc.filter(col("table") === table)
    if (types.nonEmpty) out = out.filter(col("type").isin(types.map(x => x: Any): _*))
    oldHas.foreach(k => out = out.filter(element_at(col("old"), k).isNotNull))
    dataEquals.foreach { case (k, v) =>
      out = out.filter(element_at(col("data"), k) === v)
    }
    out
  }

  /** O3 — flatten `data['col']` map entries to top-level STRING columns. */
  def project(cdc: DataFrame, cols: Seq[String]): DataFrame =
    cdc.select(cols.map(c => element_at(col("data"), c).as(c)): _*)

  /** One row of the `table_process` routing config
    * (reference bean/TableProcess.java:6-17). */
  case class TableRoute(sourceTable: String, sinkTable: String,
                        sinkColumns: Seq[String], sinkPk: String)

  /** F3/S8 — route a CDC micro-batch to per-table dim sinks with column
    * keep-lists, keep-latest per pk (MERGE semantics over a parquet dir).
    *
    * The store is hash-partitioned on the pk into `nBuckets` directories,
    * and a micro-batch rewrites ONLY the buckets its rows hash into
    * (partition-pruned read + dynamic partition overwrite) — per-batch
    * I/O is O(touched buckets × bucket size), not O(table). At scale the
    * real sink is a Delta/Iceberg MERGE, but the bucket layout is the
    * same I/O-bounding idea. Returns merged rows per sink (touched
    * buckets only). */
  def routeDims(spark: SparkSession, cdc: DataFrame, routes: Seq[TableRoute],
                sinkRoot: String, nBuckets: Int = 16): Map[String, Long] = {
    import org.apache.spark.sql.expressions.Window
    val cached = cdc.cache()
    try {
      routes.map { r =>
        val rows = tableStream(cached, r.sourceTable,
            types = Seq("insert", "update", "bootstrap-insert"))
          .select(
            (r.sinkColumns.map(c => element_at(col("data"), c).as(c)) :+
              col("ts").as("_cdc_ts")): _*)
          .withColumn("_pk_bucket",
            pmod(hash(col(r.sinkPk)), lit(nBuckets)).cast("int"))
          .cache()
        val dir = s"$sinkRoot/${r.sinkTable}"
        // bounded by nBuckets — a tiny driver-side list, not data rows
        val touched = rows.select(col("_pk_bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        val existing =
          try Some(Tables.read(spark, dir)
            .filter(col("_pk_bucket").isin(touched: _*)))
          catch {
            // ONLY first-write path-not-found means "no store yet"; any
            // other read failure must propagate — swallowing it would
            // rebuild the touched buckets from this batch alone and
            // silently drop all previously merged rows
            case e: org.apache.spark.sql.AnalysisException
                if Option(e.getCondition).exists(_.contains("PATH_NOT_FOUND")) =>
              None
          }
        val unioned = existing.map(_.unionByName(rows)).getOrElse(rows)
        // total order (ts desc, then every payload column) — same-ts
        // versions of a pk must pick the SAME winner on every replay,
        // the invariant OrderWide.keepLatestBatch pins for the batch path
        val w = Window.partitionBy(col(r.sinkPk)).orderBy(
          col("_cdc_ts").desc +:
            r.sinkColumns.filterNot(_ == r.sinkPk)
              .map(c => col(c).asc_nulls_first): _*)
        // localCheckpoint truncates lineage so the dynamic overwrite below
        // cannot re-read the very partitions it is replacing mid-write
        val merged = unioned.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
          .localCheckpoint()
        val n = merged.count()
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_pk_bucket").parquet(dir)
        rows.unpersist()
        // a foreachBatch body: an unreleased pin would outlive every batch
        Relational.unpersistCheckpoint(merged)
        r.sinkTable -> n
      }.toMap
    } finally cached.unpersist()
  }
}
