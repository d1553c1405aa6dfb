package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalog / table-maintenance operators: ANALYZE-style column statistics
  * (the CBO's food) and the small-file compaction planner (the OPTIMIZE
  * mechanism's planning half, complementing `q_zorder_layout`'s clustering
  * half).
  *
  * Reference capability analog: the warehouse serves ClickHouse tables the
  * reference never profiles — statistics and compaction are the operations
  * a lakehouse adds on top (Delta OPTIMIZE / ANALYZE TABLE). Cited shapes:
  * the per-table stats DDL the reference hand-maintains
  * (`gmall-publisher-2022` mappers assume fixed table layouts, e.g.
  * `TradeStatsMapper.java:18-37`) becomes measured statistics here.
  *
  * 100 TB stance:
  *   - [[columnStats]] reads the fact table ONCE: the per-column rows come
  *     from an `explode(array(struct…))` stack, so Catalyst sees a single
  *     parquet scan followed by a ×C row expansion of (name, canonical
  *     string, numeric) triples — C = profiled columns, never a second
  *     scan. All downstream aggregation is partial-aggregable, and the NDV
  *     sketch is the repo's deterministic KMV (dense_rank ≤ k →
  *     WindowGroupLimit: each map task forwards at most k hashes per
  *     column, so sketch shuffle is columns × k regardless of row count).
  *     The emitted stats are exactly what a cost-based optimizer consumes
  *     (rows, nulls, NDV, min/max, mean width) — and mergeable: KMV
  *     sketches from per-partition ANALYZE runs union into table-level
  *     NDV by the bottom-k identity the kmv-rollup entries prove.
  *   - [[compactionPlan]] never touches rows at planning time beyond the
  *     day-grain rollup: the bin-packer's input is the partition-stats
  *     table (one row per (event_type, day) — metastore-sized), and the
  *     greedy day-order binning is a per-type prefix sum over that tiny
  *     table. The plan's execution (not modeled here) is the rewrite;
  *     planning cost stays proportional to partition COUNT at any data
  *     volume, which is why this runs as a frequent maintenance job.
  */
object CatalogOps extends QueryModule {

  /** KMV sketch size for NDV estimation (error ~ 1/sqrt(k) ≈ 6%). */
  val StatsKmvK = 256
  /** Compaction target output-file size (bytes, modeled). */
  val CompactTargetBytes = 16384L
  /** Modeled fixed per-row storage overhead added to `length(props)`. */
  val RowOverheadBytes = 64L

  /** One profiled column: its name, the cross-engine canonical string
    * encoding (hashing/NDV/width domain), and a numeric image for
    * min/max (NULL for non-numeric columns). Canonical forms are chosen
    * bit-deterministic in both engines: integers and scale-2 decimals
    * print identically, dates go through 'yyyy-MM-dd', and raw doubles
    * are never stringified (the formatting would diverge). */
  private case class Profiled(name: String, vStr: Column, vNum: Column)

  private def profiledCols: Seq[Profiled] = Seq(
    Profiled("l_orderkey", col("l_orderkey").cast("string"),
      col("l_orderkey").cast("double")),
    // raw-double → DECIMAL is the sanctioned canonicalization direction
    // (CLAUDE.md trap list); double → BIGINT would diverge (Spark
    // truncates, DuckDB rounds) the moment a non-integral quantity ships.
    Profiled("l_quantity",
      col("l_quantity").cast("decimal(18,2)").cast("string"),
      col("l_quantity")),
    Profiled("l_extendedprice",
      col("l_extendedprice").cast("decimal(18,2)").cast("string"),
      col("l_extendedprice")),
    Profiled("l_returnflag", col("l_returnflag"),
      lit(null).cast("double")),
    Profiled("l_shipdate", date_format(col("l_shipdate"), "yyyy-MM-dd"),
      unix_timestamp(col("l_shipdate")).cast("double")),
  )

  /** ANALYZE-style column statistics over `lineitem` in ONE scan:
    * rows / nulls / exact NDV / deterministic-KMV NDV (+ its accuracy
    * audit flag) / lexicographic min-max of the canonical encoding /
    * numeric min-max / mean encoded width. */
  def columnStats(s: SparkSession, d: String): DataFrame = {
    // Value-grain first: one exchange keyed by (col_name, value) collapses
    // the ×C stacked stream to distinct values with counts (map-side
    // partial aggregation does most of the work), and every downstream
    // stat — exact NDV included, with NO countDistinct expand — plus the
    // md5 for the KMV sketch (hashed once per DISTINCT value, not per
    // row) derives from that value-grain table. Oracle SQL is the
    // row-grain formulation verbatim, so the hash gate proves the
    // rewrite's algebra (measured at sf0.1: 17.2 s row-grain → 2.2 s
    // value-grain; see PLANS.md).
    // The keyless repartition exists ONLY to spread the ×C explode +
    // partial aggregation across the cores when the scan itself cannot
    // (test-scale inputs are single small parquet files — 2 splits at
    // sf0.1 under the 8m split target, 16× core under-use for the
    // profile stage). It is gated on measured input size (r16, guide
    // §2.4): at real scale the scan's own splits saturate the cluster
    // and an unconditional repartition would round-robin-exchange the
    // whole fact table (plus its sortBeforeRepartition pass) for
    // nothing. Deterministic: a pure function of file bytes and core
    // count, both fixed within a run.
    val li = Tables.lineitem(s, d)
    val cores = s.sparkContext.defaultParallelism
    val splitBytes = s.sessionState.conf.filesMaxPartitionBytes
    // Size through the table path's Hadoop FileSystem, recursively: a
    // production-scale table is a DIRECTORY of part files, possibly
    // nested by partition, on a remote store — a local non-recursive
    // listing reads 0 bytes there and undercounts nested partitions, so
    // the gate would turn the wrong way exactly off the test box.
    val src = new org.apache.hadoop.fs.Path(s"$d/lineitem.parquet")
    val inputBytes = src.getFileSystem(s.sessionState.newHadoopConf())
      .getContentSummary(src).getLength
    val spread =
      if (inputBytes > 0 && inputBytes < cores.toLong * splitBytes)
        li.repartition(cores)
      else li
    val grouped = spread
      .select(explode(array(profiledCols.map(p =>
        struct(lit(p.name).as("col_name"), p.vStr.as("v_str"),
          p.vNum.as("v_num"))): _*)).as("c"))
      .select(col("c.*"))
      .groupBy(col("col_name"), col("v_str"))
      .agg(count(lit(1)).as("cnt"), min(col("v_num")).as("mn"),
        max(col("v_num")).as("mx"))
      .localCheckpoint()
    val base = grouped.groupBy(col("col_name")).agg(
      sum(col("cnt")).as("n_rows"),
      coalesce(sum(when(col("v_str").isNull, col("cnt"))), lit(0L))
        .as("n_null"),
      count(col("v_str")).as("ndv_exact"),
      min(col("v_str")).as("min_str"),
      max(col("v_str")).as("max_str"),
      min(col("mn")).as("min_num"),
      max(col("mx")).as("max_num"),
      (sum(length(col("v_str")) * col("cnt")).cast("double") /
        nullif(sum(when(col("v_str").isNotNull, col("cnt"))), lit(0L))
          .cast("double")).as("avg_len"))
    val h = grouped.filter(col("v_str").isNotNull)
      .select(col("col_name"),
        conv(substring(md5(col("v_str")), 1, 15), 16, 10).cast("long")
          .as("h"))
    val w = Window.partitionBy(col("col_name")).orderBy(col("h"))
    val est = h.withColumn("rn", dense_rank().over(w))
      .filter(col("rn") <= StatsKmvK)
      .groupBy(col("col_name"))
      .agg(countDistinct(col("h")).as("n_kept"), max(col("h")).as("kth"))
      .select(col("col_name"),
        when(col("n_kept") < StatsKmvK, col("n_kept"))
          .otherwise(floor(
            lit((StatsKmvK - 1).toDouble) * lit((1L << 60).toDouble)
              / col("kth").cast("double")))
          .cast("long").as("ndv_kmv"))
    base.join(est, Seq("col_name"))
      .withColumn("within_15pct",
        (abs(col("ndv_kmv") - col("ndv_exact")).cast("double")
          <= col("ndv_exact").cast("double") * 0.15).cast("long"))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("ndv_exact"), col("ndv_kmv"), col("within_15pct"),
        col("min_str"), col("max_str"), col("min_num"), col("max_num"),
        col("avg_len"))
  }

  /** Small-file compaction plan over the events table's (event_type, day)
    * partitions: per type in day order, partitions are packed whole into
    * output files of ≈[[CompactTargetBytes]] via the exclusive-prefix-sum
    * bin device (`bin = cum_before div target`, the running-sum packing
    * of `q_seq_packing`). Limit: each event type's running sum is one
    * window task — fine for a metastore-sized partition list, serial per
    * type past it. Emits one row per planned output file with its merge
    * range and fill ratio. */
  def compactionPlan(s: SparkSession, d: String): DataFrame =
    partBins(s, d)
      .groupBy(col("event_type"), col("bin_id"))
      .agg(count(lit(1)).as("n_parts"), sum(col("n_rows")).as("n_rows"),
        sum(col("bytes")).as("bytes"),
        min(col("day")).as("day_from"), max(col("day")).as("day_to"))
      .withColumn("fill",
        col("bytes").cast("double") / lit(CompactTargetBytes.toDouble))

  /** The planning grain: per-(event_type, day) partition stats + the
    * planned bin assignment — shared by [[compactionPlan]] (the rollup)
    * and [[compactionExec]] (the rewrite), so the executor can never
    * compact against a different plan than the one the planner emits. */
  private def partBins(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(length(col("props"))) + count(lit(1)) * RowOverheadBytes)
          .as("bytes"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parts
      .withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("bin_id",
        expr(s"(cum - bytes) div $CompactTargetBytes"))
  }

  /** The OPTIMIZE executor's store, built once per input fingerprint
    * (the [[DwdStore]] memo pattern): (1) `frag` — the FRAGMENTED input
    * layout, one physical directory per (event_type, day) partition (the
    * small-file problem made real on disk, one file each via the
    * combo-keyed repartition); (2) `compacted` — the rewrite: the frag
    * store read back, each day-partition tagged with its planned bin via
    * a broadcast of the metastore-sized [[partBins]] assignment, and
    * rewritten ONE file per (event_type, bin). This is Delta/Iceberg
    * OPTIMIZE's bin-packing rewrite on plain parquet: at 100 TB the
    * rewrite reads exactly the planned groups (partition pruning over
    * the frag layout), each output task streams one bin (≈ the target
    * size by construction), and nothing else is touched. */
  private def compactStore(s: SparkSession, d: String): String =
    StoreDirs.store(s, "compact", d) { base =>
      Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .repartition(col("event_type"), col("day"))
        .write.mode("overwrite").partitionBy("event_type", "day")
        .parquet(s"$base/frag")
      val assign = partBins(s, d)
        .select(col("event_type"), col("day"), col("bin_id"))
      Tables.read(s, s"$base/frag")
        .withColumn("day", col("day").cast("string"))
        .join(broadcast(assign), Seq("event_type", "day"))
        .repartition(col("event_type"), col("bin_id"))
        .write.mode("overwrite").partitionBy("event_type", "bin_id")
        .parquet(s"$base/compacted")
    }

  /** The compacted store's rows (day re-cast to string), for
    * CompactionSpec's full-column multiset-equality check. */
  private[graft] def compactedStoreForTest(s: SparkSession,
      d: String): DataFrame =
    Tables.read(s, s"${compactStore(s, d)}/compacted")
      .withColumn("day", col("day").cast("string"))
      .drop("bin_id")

  /** Compaction EXECUTION audit — the gated proof that the rewrite
    * [[compactStore]] actually performed matches the plan: per planned
    * bin, the file count before (real files of the fragmented store,
    * counted from `_metadata.file_path`) vs after (must be 1 — the
    * oracle asserts the literal), and planned vs WRITTEN row counts
    * (read back from the compacted store; `rows_match` is pinned to 1 by
    * the oracle, so a rewrite that drops or duplicates a single row
    * breaks the hash, not just a spec). Closes the OPTIMIZE loop next to
    * `q_zorder_layout`: plan → execute → audit, all three gated.
    *
    * Scale: both file listings are metadata-grain (distinct (partition,
    * file) pairs — never row-sized after the map stage), the assignment
    * broadcast is partition-count-sized, and the row counts are
    * partial-aggregable scans of exactly the two stores the executor
    * touched. */
  def compactionExec(s: SparkSession, d: String): DataFrame = {
    val base = compactStore(s, d)
    val assign = partBins(s, d)
      .select(col("event_type"), col("day"), col("bin_id"))
    val beforeFiles = Tables.read(s, s"$base/frag")
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("_metadata.file_path").as("f"))
      .distinct()
      .join(broadcast(assign), Seq("event_type", "day"))
      .groupBy(col("event_type"), col("bin_id"))
      .agg(countDistinct(col("f")).as("files_before"))
    val after = Tables.read(s, s"$base/compacted")
      .select(col("event_type"), col("bin_id").cast("long").as("bin_id"),
        col("_metadata.file_path").as("f"))
      .groupBy(col("event_type"), col("bin_id"))
      .agg(count(lit(1)).as("rows_written"),
        countDistinct(col("f")).as("files_after"))
    compactionPlan(s, d)
      .join(beforeFiles, Seq("event_type", "bin_id"))
      .join(after, Seq("event_type", "bin_id"))
      .select(col("event_type"), col("bin_id"), col("n_parts"),
        col("files_before"), col("files_after"),
        col("n_rows").as("rows_planned"), col("rows_written"),
        (col("rows_written") === col("n_rows")).cast("long")
          .as("rows_match"),
        col("bytes"), col("day_from"), col("day_to"))
  }

  /** The OPTIMIZE ZORDER executor's store: BOTH candidate layouts of the
    * same rows physically written, one file per bucket (the combo-keyed
    * repartition + partitionBy device [[compactionExec]] established) —
    * `zorder/` clustered by the 3-bit Morton interleave of (partkey,
    * suppkey), `linear/` by the orderkey strawman. Bucket definitions
    * come from [[Relational.zorderBuckets]] SHARED with the planning
    * audit, so the executor can never cluster by a different curve than
    * the one `q_zorder_layout` scores. */
  private def zorderStore(s: SparkSession, d: String): String =
    StoreDirs.store(s, "zexec", d) { base =>
      val b = Relational.zorderBuckets(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("zf"), col("lin"))
        .localCheckpoint() // two layout writes consume it
      b.repartition(col("zf"))
        .write.mode("overwrite").partitionBy("zf")
        .parquet(s"$base/zorder")
      b.repartition(col("lin"))
        .write.mode("overwrite").partitionBy("lin")
        .parquet(s"$base/linear")
    }

  /** Z-ORDER execution audit — the `OPTIMIZE ZORDER` sibling of
    * [[compactionExec]], closing the clustering loop the same way:
    * `q_zorder_layout` SCORES the two layouts from simulated bucket ids;
    * this physically WRITES both and audits the real files — file count
    * per bucket (oracle pins 1: the rewrite may not fragment), row
    * counts, and the per-file min/max footer stats a scan planner would
    * prune on, re-derived from the written stores via
    * `_metadata.file_path`. The probe-hit flag is the same mid-band
    * point query as the planning audit, so the z-vs-linear skip story
    * (16/64 files read vs 64/64) is now proven on REAL files rather
    * than a simulation. Scale: listings are file-grain after the
    * map-side combine; each store is read once. */
  def zorderExec(s: SparkSession, d: String): DataFrame = {
    val base = zorderStore(s, d)
    val mpk = Tables.lineitem(s, d).agg(max(col("l_partkey")).as("mpk"))
    def audit(dir: String, bcol: String, layout: String): DataFrame =
      Tables.read(s, s"$base/$dir")
        .select(col(bcol).cast("long").as("file_id"),
          col("l_partkey"), col("l_suppkey"),
          col("_metadata.file_path").as("f"))
        .groupBy(col("file_id"))
        .agg(countDistinct(col("f")).as("files_in_bucket"),
          count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("min_pk"),
          max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"),
          max(col("l_suppkey")).as("max_sk"))
        .select(lit(layout).as("layout"), col("file_id"),
          col("files_in_bucket"), col("n_rows"),
          col("min_pk"), col("max_pk"), col("min_sk"), col("max_sk"))
    audit("zorder", "zf", "zorder")
      .unionAll(audit("linear", "lin", "linear"))
      .crossJoin(broadcast(mpk))
      .select(col("layout"), col("file_id"), col("files_in_bucket"),
        col("n_rows"), col("min_pk"), col("max_pk"), col("min_sk"),
        col("max_sk"),
        (col("min_pk") <= expr("(mpk * 4) div 8") &&
          col("max_pk") >= expr("(mpk * 3) div 8")).cast("long")
          .as("probe_hit"))
  }

  /** Erasure-request registry: every key ≡ [[GdprResidue]] (mod
    * [[GdprModulus]]) across the subject-key spaces. 13 is coprime to
    * every plant/split modulus in use (CLAUDE.md discipline). */
  val GdprModulus = 13L
  val GdprResidue = 4L

  /** GDPR/right-to-be-forgotten delete propagation: one erasure-request
    * registry anti-joined through every table keyed by a data-subject id
    * (events.user_id, orders.o_custkey, customer.c_custkey), with a
    * per-table audit row — rows before/deleted/after, how many of the
    * requested keys were present, and `surviving_matches`, the count of
    * post-delete rows still referencing a requested key, which the gate
    * pins to 0 (the anti-join's contract, hash-checked rather than
    * assumed).
    *
    * Scale: the registry is request-sized (≪ data) and broadcasts; the
    * purge is a broadcast LEFT ANTI per table — one map-side pass, no
    * fact shuffle. On the bucketed dim store (`CdcOps.routeDims` layout)
    * the rewrite touches only buckets whose pk-hash matches a requested
    * key, so delete I/O is O(touched buckets), the same bound as ingest;
    * at lakehouse scale this is the MERGE DELETE + vacuum pair. The audit
    * is ONE scan per table: a broadcast LEFT OUTER against the registry
    * marks each row hit/miss, and before/deleted/after/surviving all fold
    * out of that one pass as conditional sums (the [[columnStats]] plan
    * family) — at 100 TB the audit costs exactly what the purge costs,
    * not 3× it.
    *
    * The registry residue uses SQL `%` (sign-of-dividend), NOT `pmod`:
    * the DuckDB oracle's `%` and Spark's `%` agree on negative keys where
    * `pmod` silently diverges (k % 13 = -9 vs pmod = 4) — on a registry
    * device that divergence would present as a confusing hash mismatch.
    * Synthetic keys are positive, so this pins semantics rather than
    * fixing an active bug. */
  def gdprPurge(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val or = Tables.orders(s, d)
    val cu = Tables.customer(s, d)
    val reqs = ev.select(col("user_id").as("k"))
      .union(or.select(col("o_custkey").as("k")))
      .union(cu.select(col("c_custkey").as("k")))
      .distinct()
      .filter(col("k") % GdprModulus === GdprResidue)
      .localCheckpoint()
    val nReq = reqs.count()
    def leg(name: String, keyCol: String, t: DataFrame): DataFrame =
      t.join(broadcast(reqs), t(keyCol) === reqs("k"), "left_outer")
        .agg(
          count(lit(1)).as("rows_before"),
          sum(when(col("k").isNotNull, 1L).otherwise(0L)).as("rows_deleted"),
          countDistinct(when(col("k").isNotNull, col(keyCol)))
            .as("keys_present"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("rows_after"),
          sum(when(col("k").isNull &&
            col(keyCol) % GdprModulus === GdprResidue, 1L).otherwise(0L))
            .as("surviving_matches"))
        .select(lit(name).as("table_name"), lit(keyCol).as("key_col"),
          lit(nReq).as("keys_requested"), col("keys_present"),
          col("rows_before"), col("rows_deleted"), col("rows_after"),
          col("surviving_matches"))
    leg("events", "user_id", ev)
      .unionByName(leg("orders", "o_custkey", or))
      .unionByName(leg("customer", "c_custkey", cu))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q_column_stats" -> (columnStats _),
      "q_compaction_plan" -> (compactionPlan _),
      "q_compaction_exec" -> (compactionExec _),
      "q_zorder_exec" -> (zorderExec _),
      "q_gdpr_purge" -> (gdprPurge _),
    )

  override def oracles: Map[String, String] = Map(
    "q_column_stats" ->
      s"""WITH st AS (
         |  SELECT 'l_orderkey' AS col_name,
         |    CAST(l_orderkey AS VARCHAR) AS v_str,
         |    CAST(l_orderkey AS DOUBLE) AS v_num FROM lineitem
         |  UNION ALL
         |  SELECT 'l_quantity', CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR),
         |    l_quantity FROM lineitem
         |  UNION ALL
         |  SELECT 'l_extendedprice',
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
         |    l_extendedprice FROM lineitem
         |  UNION ALL
         |  SELECT 'l_returnflag', l_returnflag, CAST(NULL AS DOUBLE)
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'l_shipdate', strftime(l_shipdate, '%Y-%m-%d'),
         |    CAST(FLOOR(epoch(l_shipdate)) AS DOUBLE) FROM lineitem),
         |base AS (
         |  SELECT col_name, COUNT(*) AS n_rows,
         |    COUNT(*) - COUNT(v_str) AS n_null,
         |    COUNT(DISTINCT v_str) AS ndv_exact,
         |    MIN(v_str) AS min_str, MAX(v_str) AS max_str,
         |    MIN(v_num) AS min_num, MAX(v_num) AS max_num,
         |    CAST(SUM(length(v_str)) AS DOUBLE) /
         |      CAST(NULLIF(COUNT(v_str), 0) AS DOUBLE) AS avg_len
         |  FROM st GROUP BY 1),
         |h AS (SELECT col_name, ('0x'||substr(md5(v_str),1,15))::BIGINT AS h
         |      FROM st WHERE v_str IS NOT NULL),
         |r AS (SELECT col_name, h,
         |        dense_rank() OVER (PARTITION BY col_name ORDER BY h) AS rn
         |      FROM h),
         |k AS (SELECT col_name, COUNT(DISTINCT h) AS n_kept, MAX(h) AS kth
         |      FROM r WHERE rn <= $StatsKmvK GROUP BY 1),
         |est AS (SELECT col_name,
         |          CASE WHEN n_kept < $StatsKmvK THEN n_kept
         |               ELSE CAST(floor(${StatsKmvK - 1}.0 *
         |                 1152921504606846976.0 / kth) AS BIGINT)
         |          END AS ndv_kmv
         |        FROM k)
         |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(n_null AS BIGINT) AS n_null,
         |  CAST(ndv_exact AS BIGINT) AS ndv_exact, ndv_kmv,
         |  CAST(ABS(ndv_kmv - ndv_exact) <= ndv_exact * 0.15 AS BIGINT)
         |    AS within_15pct,
         |  min_str, max_str, min_num, max_num, avg_len
         |FROM base JOIN est USING (col_name)""".stripMargin,
    // The oracle states the SEMANTICS (residue predicate); Spark executes
    // the MECHANISM (registry broadcast anti/semi-join). They coincide
    // because every residue key in a table is in the registry by
    // construction — so a hash match proves the join-based purge
    // implements the predicate spec exactly, including surviving = 0.
    "q_gdpr_purge" -> {
      def leg(name: String, key: String, tbl: String) =
        s"""SELECT '$name' AS table_name, '$key' AS key_col,
           |  (SELECT COUNT(*) FROM r) AS keys_requested,
           |  COUNT(DISTINCT CASE WHEN $key % $GdprModulus = $GdprResidue
           |    THEN $key END) AS keys_present,
           |  COUNT(*) AS rows_before,
           |  CAST(SUM(CASE WHEN $key % $GdprModulus = $GdprResidue
           |    THEN 1 ELSE 0 END) AS BIGINT) AS rows_deleted,
           |  CAST(COUNT(*) - SUM(CASE WHEN $key % $GdprModulus =
           |    $GdprResidue THEN 1 ELSE 0 END) AS BIGINT) AS rows_after,
           |  CAST(0 AS BIGINT) AS surviving_matches
           |FROM $tbl""".stripMargin
      s"""WITH r AS (
         |  SELECT DISTINCT k FROM (
         |    SELECT user_id AS k FROM events
         |    UNION ALL SELECT o_custkey FROM orders
         |    UNION ALL SELECT c_custkey FROM customer)
         |  WHERE k % $GdprModulus = $GdprResidue)
         |${leg("events", "user_id", "events")}
         |UNION ALL
         |${leg("orders", "o_custkey", "orders")}
         |UNION ALL
         |${leg("customer", "c_custkey", "customer")}""".stripMargin
    },
    // The oracle pins the executor's CONTRACT as literals: one output
    // file per bin, written rows = planned rows, files_before = the
    // plan's partition count. Spark reports the MEASURED values from the
    // stores it actually wrote — any divergence (fragmented output, lost
    // rows, a partition compacted into the wrong bin) breaks the hash.
    "q_compaction_exec" ->
      s"""WITH parts AS (
         |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         |    COUNT(*) AS n_rows,
         |    CAST(SUM(length(props)) + COUNT(*) * $RowOverheadBytes
         |      AS BIGINT) AS bytes
         |  FROM events GROUP BY 1, 2),
         |c AS (SELECT event_type, day, n_rows, bytes,
         |        SUM(bytes) OVER (PARTITION BY event_type ORDER BY day
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM parts)
         |SELECT event_type,
         |  CAST((cum - bytes) // $CompactTargetBytes AS BIGINT) AS bin_id,
         |  COUNT(*) AS n_parts,
         |  COUNT(*) AS files_before,
         |  CAST(1 AS BIGINT) AS files_after,
         |  CAST(SUM(n_rows) AS BIGINT) AS rows_planned,
         |  CAST(SUM(n_rows) AS BIGINT) AS rows_written,
         |  CAST(1 AS BIGINT) AS rows_match,
         |  CAST(SUM(bytes) AS BIGINT) AS bytes,
         |  MIN(day) AS day_from, MAX(day) AS day_to
         |FROM c GROUP BY 1, 2""".stripMargin,
    // the q_zorder_layout oracle with files_in_bucket pinned to the
    // literal 1 — a fragmented physical rewrite breaks the hash
    "q_zorder_exec" ->
      """WITH m AS (SELECT MAX(l_partkey) mpk, MAX(l_suppkey) msk,
        |                  MAX(l_orderkey) mok FROM lineitem),
        |c0 AS (SELECT l_partkey, l_suppkey, mpk,
        |        ((l_partkey - 1) * 8) // mpk AS a,
        |        ((l_suppkey - 1) * 8) // msk AS b,
        |        ((l_orderkey - 1) * 64) // mok AS lin
        |      FROM lineitem, m),
        |z AS (SELECT *,
        |        ((a >> 0) & 1) * 2 + ((b >> 0) & 1) * 1 +
        |        ((a >> 1) & 1) * 8 + ((b >> 1) & 1) * 4 +
        |        ((a >> 2) & 1) * 32 + ((b >> 2) & 1) * 16 AS zf
        |      FROM c0),
        |au AS (SELECT 'zorder' AS layout, zf AS file_id, COUNT(*) AS n_rows,
        |         MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
        |         MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk,
        |         MAX(mpk) AS mpk
        |       FROM z GROUP BY zf
        |       UNION ALL
        |       SELECT 'linear', lin, COUNT(*), MIN(l_partkey), MAX(l_partkey),
        |         MIN(l_suppkey), MAX(l_suppkey), MAX(mpk)
        |       FROM z GROUP BY lin)
        |SELECT layout, file_id, CAST(1 AS BIGINT) AS files_in_bucket,
        |  n_rows, min_pk, max_pk, min_sk, max_sk,
        |  CAST(min_pk <= (mpk * 4) // 8 AND max_pk >= (mpk * 3) // 8
        |       AS BIGINT) AS probe_hit
        |FROM au""".stripMargin,
    "q_compaction_plan" ->
      s"""WITH parts AS (
         |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         |    COUNT(*) AS n_rows,
         |    CAST(SUM(length(props)) + COUNT(*) * $RowOverheadBytes
         |      AS BIGINT) AS bytes
         |  FROM events GROUP BY 1, 2),
         |c AS (SELECT event_type, day, n_rows, bytes,
         |        SUM(bytes) OVER (PARTITION BY event_type ORDER BY day
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM parts)
         |SELECT event_type,
         |  CAST((cum - bytes) // $CompactTargetBytes AS BIGINT) AS bin_id,
         |  COUNT(*) AS n_parts, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         |  CAST(SUM(bytes) AS BIGINT) AS bytes,
         |  MIN(day) AS day_from, MAX(day) AS day_to,
         |  CAST(SUM(bytes) AS DOUBLE) / $CompactTargetBytes.0 AS fill
         |FROM c GROUP BY 1, 2""".stripMargin,
  )
}
