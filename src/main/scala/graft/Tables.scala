package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated test tables (TESTDATA.md), and the
  * one parquet read path of the codebase ([[read]]): the table loaders
  * and every store reader go through it.
  *
  * Reads stay plain file-source scans, so Catalyst keeps full
  * pushdown/pruning freedom: a downstream `.select`/`.filter` reaches the
  * parquet scan as `ReadSchema`/`PushedFilters`. At 100 TB these would be
  * partitioned/bucketed table paths; the API surface stays the same.
  *
  * Schema memo: an undeclared parquet read infers its schema with a whole
  * Spark job (footer read on an executor) — 75–100 ms per call measured
  * on a 4-core VM, paid by every query that touches a table, which
  * dominated short dashboard queries. A production reader gets the
  * schema from a metastore or table log; here [[read]] keeps a per-JVM
  * map from path to (file identity, inferred `StructType`) and hands a
  * matching entry back as a declared schema, so the scan plan is the
  * same and no inference job runs. The identity is [[graft.ops.StoreDirs.freshKey]]
  * of every path (path, length, mtime and footer tail of every file,
  * walked through the Hadoop `FileSystem`) plus the session confs that
  * steer inference ([[inferenceConfs]]): a regenerated table — e.g.
  * `events.ts` flipping between NANOS and MICROS — or a store rewritten
  * by `StoreDirs.fold` gets a new key, is re-inferred, and
  * replaces its entry. The map holds `StructType`s only, never a
  * DataFrame, and grows with the number of distinct paths, not with
  * rewrites of one path. */
object Tables {

  /** Session confs that change what parquet schema inference returns for
    * the same files; their values are part of the memo key. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** Read parquet at `paths` (what a bare parquet read of them returns),
    * inferring the schema only when the files or the inference confs
    * changed since the last read of the same paths. A multi-path read of
    * sibling dirs (e.g. [[graft.ops.CorpusStore]]'s `batch=` folds) is
    * memoized under their common parent, so a growing fold list replaces
    * one entry instead of adding one per batch. A read that throws (e.g.
    * PATH_NOT_FOUND, which callers catch) caches nothing. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val key = paths.map(p => new Path(p).getParent).distinct match {
      case Seq(parent) if paths.size > 1 && parent != null => parent.toString
      case _ => paths.mkString(",")
    }
    val identity = (paths.map(graft.ops.StoreDirs.freshKey(spark, _)) ++
      inferenceConfs.map(k => s"$k=${spark.conf.getOption(k).orNull}"))
      .mkString("|")
    Option(schemas.get(key)) match {
      case Some((id, schema)) if id == identity =>
        spark.read.schema(schema).parquet(paths: _*)
      case _ =>
        val df = spark.read.parquet(paths: _*)
        schemas.put(key, (identity, df.schema))
        df
    }
  }

  /** Number of memoized schemas (for specs pinning the map's growth). */
  private[graft] def schemaMemoSize: Int = schemas.size

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped as BOTH parquet TIMESTAMP(NANOS) (earlier
    * driver rounds; with `spark.sql.legacy.parquet.nanosAsLong=true` set
    * by [[GraftSession]] it reads as LongType nanos) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (regenerated round-6 data; Spark reads it as
    * TIMESTAMP_NTZ). Normalize BOTH to TimestampType here so every
    * consumer sees one type: the NTZ→TZ cast re-interprets the wall time
    * in the session zone, which GraftSession pins to UTC — exactly how
    * the DuckDB oracle treats the same naive micros. Functions like
    * `unix_micros` reject NTZ input, so skipping this cast breaks
    * downstream queries (q_session_window caught it when the round-6
    * regeneration landed). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
