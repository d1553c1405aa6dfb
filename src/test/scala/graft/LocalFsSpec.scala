package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem}
import graft.streaming.StatefulOps.{VersionedRow, keepLatestTws}
import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag,
  FSDataInputStream, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` scheme every `GraftSession` installs: the fork-free local
  * file system resolves through both Hadoop entry points, behaves like the
  * stock `LocalFileSystem` / `LocalFs` on permissions, renames, checksums
  * and links, and a checkpointed stateful query with a parquet sink starts
  * no shell process at all. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val localUri = URI.create("file:///")

  private def conf(umask: String, forkFree: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (forkFree) c.set("fs.AbstractFileSystem.file.impl",
      classOf[ForkFreeLocalFs].getName)
    c
  }

  private def fileSystem(umask: String, forkFree: Boolean): LocalFileSystem = {
    val fs = if (forkFree) new ForkFreeLocalFileSystem else new LocalFileSystem
    fs.initialize(localUri, conf(umask, forkFree))
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("the session's hadoop conf resolves file: to the fork-free classes") {
    val hc = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(localUri, hc).getClass === classOf[ForkFreeLocalFileSystem],
      "a file: FileSystem cached before the session keeps the stock class")
    assert(FileSystem.getLocal(hc).getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.getClass ===
      classOf[ForkFreeLocalFs])
    assert(FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
      .getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
  }

  test("file and directory permissions match the stock class under umask " +
      "022 and 077, sticky directory included") {
    Seq("022" -> (0x1a4, 0x1ed), "077" -> (0x180, 0x1c0)).foreach {
      case (umask, (fileMode, dirMode)) =>
        val root = Files.createTempDirectory(s"perm$umask")
        val modes = Seq(false, true).map { forkFree =>
          val dir = Files.createDirectory(root.resolve(s"ff$forkFree"))
          val fs = fileSystem(umask, forkFree)
          fs.create(new Path(dir.resolve("f").toString)).close()
          fs.mkdirs(new Path(dir.resolve("d").toString))
          val sticky = new Path(dir.resolve("t").toString)
          fs.mkdirs(sticky)
          fs.setPermission(sticky, new FsPermission(0x3ff.toShort)) // 01777
          Seq("f", ".f.crc", "d", "t").map(n => n -> mode(dir.resolve(n)))
        }
        assert(modes(1) === modes(0), s"umask $umask")
        val m = modes(1).toMap
        assert(m("f") === fileMode && m("d") === dirMode && m("t") === 0x3ff,
          s"umask $umask: ${m.map { case (k, v) => k -> v.toOctalString }}")
    }
  }

  test("FileContext rename: OVERWRITE replaces, without it the target " +
      "must not exist — as with the stock LocalFs") {
    Seq(false, true).foreach { forkFree =>
      val fc = FileContext.getFileContext(localUri, conf("022", forkFree))
      assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs] === forkFree)
      val dir = Files.createTempDirectory(s"rename$forkFree")
      def write(name: String, body: String): Path = {
        val p = new Path(dir.resolve(name).toString)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(body.getBytes("UTF-8")) finally out.close()
        p
      }
      val src = write("src", "new")
      val dst = write("dst", "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(dir.resolve("dst")), "UTF-8") === "new")
      assert(!Files.exists(dir.resolve("src")))
      assert(Files.exists(dir.resolve(".dst.crc")) && !Files.exists(dir.resolve(".src.crc")))
    }
  }

  test(".crc files are written and a flipped data byte fails the read, as " +
      "with the stock class") {
    Seq(false, true).foreach { forkFree =>
      // LocalFileSystem moves a corrupt file to `bad_files` at the root of
      // its device; keep the test's files where they are
      val fs =
        if (forkFree) new ForkFreeLocalFileSystem {
          override def reportChecksumFailure(p: Path, in: FSDataInputStream,
              inPos: Long, sums: FSDataInputStream, sumsPos: Long) = false
        } else new LocalFileSystem {
          override def reportChecksumFailure(p: Path, in: FSDataInputStream,
              inPos: Long, sums: FSDataInputStream, sumsPos: Long) = false
        }
      fs.initialize(localUri, conf("022", forkFree))
      val dir = Files.createTempDirectory(s"crc$forkFree")
      val p = new Path(dir.resolve("data").toString)
      val out = fs.create(p)
      try out.write(Array.tabulate[Byte](4096)(i => (i % 251).toByte))
      finally out.close()
      assert(Files.exists(dir.resolve(".data.crc")))
      val in = fs.open(p)
      try assert(in.readAllBytes().length === 4096) finally in.close()
      val raf = new RandomAccessFile(dir.resolve("data").toFile, "rw")
      try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
      finally raf.close()
      val bad = fs.open(p)
      try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
    }
  }

  test("getFileLinkStatus of a symlink, a file and a missing path equals " +
      "the stock result") {
    val dir = Files.createTempDirectory("links")
    val target = Files.write(dir.resolve("target"), "x".getBytes)
    Files.createSymbolicLink(dir.resolve("link"), target)
    val hc = new Configuration()
    val stock = new RawLocalFileSystem; stock.initialize(localUri, hc)
    val ours = new ForkFreeRawLocalFileSystem; ours.initialize(localUri, hc)
    Seq("link", "target").foreach { n =>
      val p = new Path(dir.resolve(n).toString)
      val Seq(a, b) = Seq(stock, ours).map { fs =>
        val s = fs.getFileLinkStatus(p)
        (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
          s.getLen, s.isDirectory, s.getPermission, s.getOwner, s.getGroup,
          s.getModificationTime)
      }
      assert(b === a, n)
    }
    assert(ours.getFileLinkStatus(new Path(dir.resolve("link").toString)).isSymlink)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("a checkpointed keepLatestTws query with a parquet sink starts no " +
      "shell process; the stock class does") {
    // every Hadoop fork starts its stderr reader inside Shell.runCommand
    def forked(e: RecordedEvent): Boolean = Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(f =>
        f.getMethod.getType.getName == "org.apache.hadoop.util.Shell" &&
          f.getMethod.getName == "runCommand"))
    val hc = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(localUri, hc).isInstanceOf[ForkFreeLocalFileSystem],
      "a file: FileSystem cached before the session keeps the stock class")
    val forks = new AtomicInteger
    val flushes = new AtomicInteger
    def awaitFlushes(n: Int): Unit = {
      val until = flushes.get + n
      val deadline = System.nanoTime() + 30000000000L
      while (flushes.get < until && System.nanoTime() < deadline) Thread.sleep(50)
      assert(flushes.get >= until, "JFR stream stopped flushing")
    }
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ThreadStart").withStackTrace()
      rs.onEvent("jdk.ThreadStart", (e: RecordedEvent) =>
        if (forked(e)) forks.incrementAndGet(): Unit)
      rs.onFlush(() => flushes.incrementAndGet(): Unit)
      rs.startAsync()
      awaitFlushes(1)

      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val out = Files.createTempDirectory("forkfree_out").toString
      val ckpt = Files.createTempDirectory("forkfree_ckpt").toString
      val in = MemoryStream[VersionedRow]
      val q = keepLatestTws(in.toDS().toDF()
          .withColumn("eventTime", timestamp_millis(col("opTs")))
          .withWatermark("eventTime", "0 seconds").as[VersionedRow],
          flushMs = 2000)
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      try (1 to 10).foreach { i =>
        in.addData(VersionedRow(s"k${i % 3}", 1000L * i, s"v$i"))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.lastProgress.batchId >= 9)
      assert(spark.read.parquet(out).count() > 0, "no row was flushed")
      awaitFlushes(2)
      assert(forks.get === 0, "shell processes started by the query")

      val probe = Files.createTempFile("probe", "")
      val stock = new RawLocalFileSystem
      stock.initialize(localUri, new Configuration())
      stock.setPermission(new Path(probe.toString), new FsPermission(0x1a4.toShort))
      val deadline = System.nanoTime() + 30000000000L
      while (forks.get == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(forks.get > 0, "the fork counter missed a stock chmod")
    } finally rs.close()
  }
}
