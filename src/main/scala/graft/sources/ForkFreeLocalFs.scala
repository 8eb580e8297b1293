package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

/** Hadoop's local filesystem without fork/exec. Without libhadoop,
  * `RawLocalFileSystem` runs `chmod` for every file create and mkdir and
  * `readlink` (via `FileUtil.readLink`) for every `getFileLinkStatus`,
  * which FileContext calls twice per rename. A streaming query renames
  * its offset/commit logs, state deltas and their checksum files every
  * trigger, so those commits waited on ~130 process starts per trigger.
  *
  * Only the two forking calls change; bytes, permission bits and
  * `FileStatus` values are Hadoop's:
  *  - `setPermission` sets the same nine bits through NIO. A sticky bit
  *    has no NIO form and still goes to Hadoop's `chmod`.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop returns after `readlink`
  *    prints nothing. Hadoop asks `readlink` about `new File(f.toString)`;
  *    the same file is tested here, and only a real link reaches Hadoop.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeRawLocalFileSystem.posix(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for the FileSystem API (`fs.file.impl`): checksummed, as
  * `LocalFileSystem`. Without this conf, `file:` resolves to Hive's
  * `ProxyLocalFileSystem` (service-loaded from hive-exec), whose one
  * change to `LocalFileSystem` is kept: a rename never replaces an
  * existing file.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `file:` for the FileContext API, as Hadoop's `RawLocalFs`. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` for the FileContext API (`fs.AbstractFileSystem.file.impl`),
  * as Hadoop's `LocalFs`: Spark's streaming checkpoint manager writes
  * through FileContext.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

private object ForkFreeRawLocalFileSystem {

  // PosixFilePermission's declaration order is owner/group/others ×
  // read/write/execute: mode bits 8 down to 0.
  private val Bits = PosixFilePermission.values.toSeq.zip((8 to 0 by -1).map(1 << _))

  /** The nine permission bits of a mode as a NIO set. */
  def posix(mode: Short): java.util.Set[PosixFilePermission] =
    Bits.collect { case (p, bit) if (mode & bit) != 0 => p }.toSet.asJava
}
