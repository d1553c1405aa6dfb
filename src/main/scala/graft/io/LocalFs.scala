package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's raw local file system without the per-call process forks.
  *
  * Without the native `libhadoop`, stock `RawLocalFileSystem` shells out
  * for two operations: `chmod` in `setPermission` (every file create and
  * every mkdir) and `readlink` in `getFileLinkStatus` (every `FileContext`
  * rename). A streaming run writes offset, commit and state files through
  * exactly those calls, so each micro-batch paid tens of forks per query:
  * one `FileContext` create plus rename measured ~30 ms on the stock class
  * and ~1.5 ms on this one (4-core VM). This class does both operations
  * through `java.nio` and inherits everything else, so permissions,
  * checksums and rename semantics are those of the stock class.
  * [[graft.GraftSession]] installs it for the `file:` scheme. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits the stock `chmod` sets. A sticky bit goes to the
    * stock method, since `java.nio` cannot set it. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeRawLocalFileSystem.posix(permission))

  /** The stock method runs `readlink` on `new File(f.toString)` and, when
    * that is not a link, returns `getFileStatus(f)`; so only a link pays
    * the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private def bits(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
      x: PosixFilePermission): Seq[PosixFilePermission] =
    Seq(FsAction.READ -> r, FsAction.WRITE -> w, FsAction.EXECUTE -> x)
      .collect { case (bit, perm) if a.implies(bit) => perm }

  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    (bits(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE) ++
      bits(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE) ++
      bits(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE))
      .foreach(s.add)
    s
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` (it writes the `.crc`
  * side files) over [[ForkFreeRawLocalFileSystem]]. `FileSystem.get`
  * instantiates it by class name; parquet writes go through it. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
  * over `RawLocalFs`) with [[ForkFreeRawLocalFileSystem]] underneath.
  * `FileContext` instantiates it by class name; Spark's checkpoint file
  * manager writes offset and commit logs, state files and RocksDB
  * uploads through it. Like `LocalFs` it ignores `uri` and serves
  * `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` over the fork-free raw class;
  * the overrides are copied from it. */
private[io] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // local file systems differ in their naming rules; let the OS decide
  override def isValidName(src: String): Boolean = true
}
