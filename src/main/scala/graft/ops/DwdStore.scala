package graft.ops

import graft.Tables
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized DWD layer — the warehouse architecture the reference uses:
  * DwdTradeOrderPreProcess.java:186-188 writes the five-table wide join to
  * a Kafka topic ONCE and every DWS job consumes that topic; no consumer
  * recomputes the join. The batch analog is a parquet store written once
  * per (JVM run, sfDir) and scanned by every downstream query.
  *
  * Two stored tables:
  *   - `wide`   — the raw five-table join ([[OrderWide.buildWide]]); read
  *                by the subsidy-rate queries.
  *   - `latest` — changelog-expanded + keep-latest-deduped wide rows
  *                ([[OrderWide.keepLatestBatch]]); read by the DWS window
  *                queries. Dedup is the expensive hash-exchange stage, so
  *                storing post-dedup rows is what a streaming DWS state
  *                store would hold.
  *
  * Freshness: the store directory's NAME encodes the input fingerprint
  * ([[StoreDirs.freshKey]]) and a build is only reused when its
  * completion marker exists ([[StoreDirs.ensureBuilt]]), so a stale or
  * half-written store can never leak into this run — and the bench's
  * fresh-JVM isolation child can safely probe the parent's stores via a
  * shared root. At real scale
  * this layer is the lakehouse DWD table (Delta/Iceberg), partitioned by
  * date_id, with consumers pruning partitions — here it is plain parquet
  * because the sandbox has no table format on the classpath.
  */
/** Shared materialization-root machinery for the per-JVM stores
  * ([[DwdStore]], [[TextIndexStore]]): a PID-scoped tmp root (two driver
  * JVMs — e.g. Verify and Bench overlapping — must never race each other's
  * overwrite of the same store directory), removed on JVM exit. Set
  * SPARK_GRAFT_DWD_DIR to pin a shared, persistent location instead. */
private[graft] object StoreDirs {

  /** The resolved store root — exposed so Bench can hand it to its
    * fresh-JVM isolation child via SPARK_GRAFT_DWD_DIR: the child then
    * PROBES the parent's already-built stores instead of paying every
    * cold build, measuring the probe path exactly as the sweep does.
    * (Safe: the child runs while the parent blocks, and a pinned root is
    * never registered for deletion by its own shutdown hook.) */
  def rootDir: String = root

  private lazy val root: String =
    sys.env.get("SPARK_GRAFT_DWD_DIR").getOrElse {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_dwd_store_${ProcessHandle.current().pid()}")
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete(dir)))
      dir.getPath
    }

  private def delete(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(delete)
    f.delete(): Unit
  }

  /** One store dir per (store tag, source sfDir). The readable sanitized
    * path alone is NOT collision-free ("/x/y" and "/x_y" both sanitize to
    * "_x_y"), so an md5 of the raw path is appended — sanitized prefix for
    * debuggability, digest for uniqueness. */
  def dirFor(tag: String, d: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    new java.io.File(root,
      tag + "_" + d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + digest).getPath
  }

  /** Disk-memoized store build, keyed by the input fingerprint: the
    * directory name encodes [[freshKey]], so an existing COMPLETE dir
    * (marker file present) was necessarily built from byte-identical
    * inputs — safe to reuse across JVMs sharing a pinned root (the bench
    * isolation child probing the parent's stores). An incomplete dir — a
    * crashed or in-flight build — has no marker and is rebuilt. Within a
    * JVM the callers' ConcurrentHashMap memo serializes builds; across
    * the parent/child pair the parent blocks while the child runs, so
    * the marker is never raced. */
  def ensureBuilt(tag: String, key: String)(build: String => Unit): String = {
    val base = dirFor(tag, key)
    val marker = new java.io.File(base, "_GRAFT_DONE")
    if (!marker.exists()) {
      build(base)
      marker.getParentFile.mkdirs()
      java.nio.file.Files.writeString(marker.toPath, "ok"): Unit
    }
    base
  }

  /** Crash-durable overwrite of a parquet store dir (the read→merge→
    * overwrite refresh paths' write side): the merged frame is FULLY
    * written to a sibling staging dir first, then swapped in by two
    * renames (live → `.old`, staging → live) and the old copy deleted.
    * A direct `mode("overwrite")` of the same dir deletes the store
    * before rewriting it from a truncated-lineage localCheckpoint, so a
    * crash or executor-block loss mid-write destroys the store
    * unrecoverably (ADVICE r9); with the staged swap, every crash window
    * leaves at least one COMPLETE copy on disk — `.staging` before the
    * first rename, `.old` until the final delete — so recovery is a
    * rename, never a rebuild. (On a real lakehouse this is the table
    * format's atomic commit; plain parquet gets the two-rename
    * approximation.) */
  def durableOverwrite(df: org.apache.spark.sql.DataFrame,
      dir: String): Unit = {
    recoverSwap(dir) // never delete a survivor while live is missing
    val staging = new java.io.File(dir + ".staging")
    val old = new java.io.File(dir + ".old")
    delete(staging); delete(old)
    df.write.mode("overwrite").parquet(staging.getPath)
    val live = new java.io.File(dir)
    if (live.exists())
      require(live.renameTo(old), s"swap failed: $dir -> .old")
    require(staging.renameTo(live), s"swap failed: .staging -> $dir")
    delete(old)
  }

  /** Crash recovery for [[durableOverwrite]]'s two-rename swap (ADVICE
    * r10): a crash between `live → .old` and `.staging → live` leaves NO
    * live dir but two complete sibling copies. Without this step, a
    * restart's read path would treat the missing live dir as an empty
    * store and fold the next batch "fresh", and the next overwrite's
    * staging/old cleanup would then delete BOTH surviving copies — the
    * exact silent loss the staged swap exists to prevent. Recovery rule:
    * if live is missing, restore `.old` (the last COMMITTED state —
    * `.staging`'s commit never completed, so preferring it would
    * double-apply the in-flight batch on replay); failing that, promote a
    * `.staging` whose parquet job finished (`_SUCCESS` present — only
    * reachable on a first-ever build, where there was no live to move
    * aside). The `_SUCCESS` probe assumes the default
    * FileOutputCommitter marker; [[graft.GraftSession]] pins
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=true` so a
    * committer/config change cannot silently turn "committed first
    * build" into "deleted and rebuilt" (ADVICE r11). A partial
    * `.staging` with no `_SUCCESS` is deleted: the
    * store is then genuinely absent and callers rebuild from scratch.
    * Idempotent and O(1); called from every store read path
    * ([[recoverThenExists]]) and at [[durableOverwrite]] entry. */
  def recoverSwap(dir: String): Unit = {
    val live = new java.io.File(dir)
    if (live.exists()) return
    val staging = new java.io.File(dir + ".staging")
    val old = new java.io.File(dir + ".old")
    if (old.exists()) {
      require(old.renameTo(live), s"recovery rename failed: .old -> $dir")
      delete(staging) // uncommitted in-flight copy: discard, replay refolds
    } else if (staging.exists()) {
      if (new java.io.File(staging, "_SUCCESS").exists())
        require(staging.renameTo(live),
          s"recovery rename failed: .staging -> $dir")
      else delete(staging)
    }
  }

  /** Store-existence probe for the read→merge→overwrite refresh paths:
    * recovers an interrupted swap FIRST, so a post-crash restart merges
    * into the surviving committed copy instead of silently starting a
    * fresh store from the current batch alone. */
  def recoverThenExists(dir: String): Boolean = {
    recoverSwap(dir)
    new java.io.File(dir).exists()
  }

  /** Input-freshness key: the path plus a digest of every file's (path,
    * mtime, length) under it, and of each file's last 64 bytes. The
    * driver can REGENERATE the input parquet mid-round (CLAUDE.md: the
    * events timestamp precision flipped mid-round in r6); a store
    * memoized on the path alone would then probe STALE artifacts while
    * the oracles recompute from the fresh inputs — a gate failure
    * disguised as a query bug. Keying both the memo map and the store
    * directory on this fingerprint makes input regeneration invalidate
    * every store automatically (the superseded directory lingers until
    * JVM exit — metadata-sized, reclaimed by the shutdown hook).
    *
    * It is also the file identity behind [[graft.Tables.read]]'s schema
    * memo, so the code has ONE notion of "same files": a store dir
    * rewritten by [[durableOverwrite]], an appended batch dir or a
    * regenerated input table changes the key and forces a fresh schema
    * inference.
    *
    * The walk goes through the Hadoop `FileSystem` of the path (with the
    * session's Hadoop conf), the same listing a Spark scan uses: a
    * `java.io.File` walk of an `hdfs://` or `s3a://` path sees no files,
    * which would pin one key — and so a stale memo — forever. The path
    * is globbed the way a parquet scan globs it; a missing path
    * digests to the empty walk. The last 64 bytes of each file cover the
    * parquet footer tail (metadata offsets + row-group stats), which any
    * content change perturbs: metadata alone misses a regeneration that
    * preserves sizes under coarse mtimes or an atomic rename keeping
    * timestamps. The walk is a metadata listing plus one 64-byte read
    * per file, so calling it on every store access is free relative to
    * a query. */
  def freshKey(s: SparkSession, d: String): String = {
    val root = new Path(d)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    // tails bypass the local checksum layer, which opens a `.crc` side
    // file per read (measured 4x the cost of the rest of the walk); a
    // fingerprint needs no verification of the bytes it hashes
    val tails = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def visit(st: FileStatus): Unit = {
      md.update(s"${st.getPath}|${st.getModificationTime}|${st.getLen}\n"
        .getBytes("UTF-8"))
      try {
        if (st.isDirectory)
          fs.listStatus(st.getPath).sortBy(_.getPath.getName).foreach(visit)
        else if (st.getLen > 0) {
          val n = math.min(64L, st.getLen).toInt
          val buf = new Array[Byte](n)
          val in = tails.open(st.getPath)
          try in.readFully(st.getLen - n, buf) finally in.close()
          md.update(buf)
        }
      } catch {
        // deleted between the listing and the read (a concurrent
        // overwrite): the key differs from both states, which is safe
        case _: java.io.FileNotFoundException => md.update(0: Byte)
      }
    }
    Option(fs.globStatus(root)).toSeq.flatten
      .sortBy(_.getPath.toString).foreach(visit)
    d + "@" + md.digest().map("%02x".format(_)).mkString.take(12)
  }
}

object DwdStore {

  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensure(s: SparkSession, d: String): String =
    built.computeIfAbsent(StoreDirs.freshKey(s, d), k =>
      StoreDirs.ensureBuilt("dwd", k) { base =>
        val wide = OrderWide.buildWide(
          OrderWide.detail(s, d), OrderWide.info(s, d),
          OrderWide.activity(s, d), OrderWide.coupon(s, d), OrderWide.dic(s, d))
        wide.write.mode("overwrite").parquet(s"$base/wide")
        // latest derives from the STORED wide (one scan of the materialized
        // table, not a second run of the join subtree)
        OrderWide.keepLatestBatch(
            OrderWide.versions(Tables.read(s, s"$base/wide")))
          .write.mode("overwrite").parquet(s"$base/latest")
      })

  /** The materialized five-table wide join. */
  def wide(s: SparkSession, d: String): DataFrame =
    Tables.read(s, s"${ensure(s, d)}/wide")

  /** The materialized keep-latest deduped changelog. */
  def latest(s: SparkSession, d: String): DataFrame =
    Tables.read(s, s"${ensure(s, d)}/latest")
}
