package graft.ops

import graft.Tables
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one lifecycle of every materialized store: [[DwdStore]] (`dwd`),
  * [[DwsStore]] (`dws`), [[Scd2Store]], [[TextIndexStore]] (`textidx`,
  * `textcorpus`), [[CorpusStore]], [[PostingStore]], [[EmbedStore]], the
  * [[VectorOps]] PQ index and recall ground truth, the [[CatalogOps]]
  * compaction and Z-order executors, and the [[BucketStore]] tables.
  *
  *   - Build: [[store]] writes a store once per (tag, input fingerprint)
  *     under a PID-scoped tmp root and memoizes the finished directory.
  *   - Refresh: [[fold]] merges a micro-batch into a store directory with
  *     a crash-durable staged swap.
  *
  * The root is PID-scoped (two driver JVMs — e.g. Verify and Bench
  * overlapping — must never race each other's overwrite of the same store
  * directory) and removed on JVM exit. Set SPARK_GRAFT_DWD_DIR to pin a
  * shared, persistent location instead. This is the batch analog of one
  * state backend that every operator snapshots and restores through. */
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

  /** First 12 hex digits of the MD5 of `key`: the uniqueness suffix of
    * every store directory and bucketed-table name. */
  def digest(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** One store dir per (store tag, source sfDir). The readable sanitized
    * path alone is NOT collision-free ("/x/y" and "/x_y" both sanitize to
    * "_x_y"), so a digest of the raw path is appended — sanitized prefix
    * for debuggability, digest for uniqueness. */
  def dirFor(tag: String, d: String): String =
    new java.io.File(root,
      tag + "_" + d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + digest(d)).getPath

  /** The finished directory of one (tag, input fingerprint), built
    * under this instance's lock only: the map hands the instance back
    * first, so a build may open another store (`scd2h` reads `dwd`)
    * without updating the map from inside `computeIfAbsent`, which the
    * JDK forbids ("Recursive update"). A build that throws records
    * nothing, so the next access retries it. */
  private final class Build {
    private var done: String = null
    def dir(tag: String, key: String, build: String => Unit): String =
      synchronized {
        if (done == null) {
          val base = dirFor(tag, key)
          val marker = new java.io.File(base, "_GRAFT_DONE")
          if (!marker.exists()) {
            build(base)
            marker.getParentFile.mkdirs()
            java.nio.file.Files.writeString(marker.toPath, "ok"): Unit
          }
          done = base
        }
        done
      }
  }

  private val built = new java.util.concurrent.ConcurrentHashMap[(String, String), Build]()

  /** The directory of store `tag` built from input `d`, running `build`
    * (which writes the store's tables under the given base directory) the
    * first time this JVM sees the current input files.
    *
    * The directory name encodes [[freshKey]], so an existing COMPLETE dir
    * (marker file present) was necessarily built from byte-identical
    * inputs — safe to reuse across JVMs sharing a pinned root (the bench
    * isolation child probing the parent's stores). An incomplete dir — a
    * crashed or in-flight build — has no marker and is rebuilt. Within a
    * JVM, concurrent first accesses of one store share one [[Build]], so
    * the store is built once; across the parent/child pair the parent
    * blocks while the child runs, so the marker is never raced. Each
    * access costs one [[freshKey]] walk and a map hit. */
  def store(s: SparkSession, tag: String, d: String)(
      build: String => Unit): String = {
    val key = freshKey(s, d)
    built.computeIfAbsent((tag, key), _ => new Build).dir(tag, key, build)
  }

  /** Refresh the store at `dir` with one micro-batch — the `foreachBatch`
    * read → merge → overwrite every streaming store face uses. `merge`
    * gets the stored rows (`None` before the first fold) and returns the
    * new store contents. The result is localCheckpointed before the write
    * because the store is both input and output of the merge, written by
    * a staged swap ([[durableOverwrite]]), and its checkpoint blocks are
    * released afterwards instead of pinning one store copy per batch.
    * An interrupted swap of an earlier fold is recovered FIRST, so a
    * post-crash restart merges into the surviving committed copy instead
    * of silently starting a fresh store from the current batch alone. */
  def fold(s: SparkSession, dir: String)(
      merge: Option[DataFrame] => DataFrame): Unit = {
    recoverSwap(dir)
    val prior =
      if (new java.io.File(dir).exists()) Some(Tables.read(s, dir)) else None
    val merged = merge(prior).localCheckpoint()
    durableOverwrite(merged, dir)
    Relational.unpersistCheckpoint(merged)
  }

  /** Crash-durable overwrite of a parquet store dir ([[fold]]'s write
    * side): the merged frame is FULLY written to a sibling staging dir
    * first, then swapped in by two renames (live → `.old`, staging →
    * live) and the old copy deleted. A direct `mode("overwrite")` of the
    * same dir deletes the store before rewriting it from a
    * truncated-lineage localCheckpoint, so a crash or executor-block loss
    * mid-write destroys the store unrecoverably (ADVICE r9); with the
    * staged swap, every crash window leaves at least one COMPLETE copy on
    * disk — `.staging` before the first rename, `.old` until the final
    * delete — so recovery is a rename, never a rebuild. (On a real
    * lakehouse this is the table format's atomic commit; plain parquet
    * gets the two-rename approximation.) The caller has run
    * [[recoverSwap]], so the staging/old cleanup never deletes a
    * survivor while live is missing. */
  private def durableOverwrite(df: DataFrame, dir: String): Unit = {
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
    * `.staging` with no `_SUCCESS` is deleted: the store is then
    * genuinely absent and the fold starts it from the batch alone.
    * Idempotent and O(1). */
  private def recoverSwap(dir: String): Unit = {
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
    * rewritten by [[fold]], an appended batch dir or a regenerated input
    * table changes the key and forces a fresh schema inference.
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
