package graft.sources

import java.net.URI
import java.nio.file.{Files, attribute}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local `file:` filesystem without OS processes. With no Hadoop
  * native library, the stock [[RawLocalFileSystem]] forks `chmod` after
  * every file create and mkdir and `readlink` on every FileContext
  * rename: an OS process for every staged file, `.crc` sidecar, marker
  * swap and checkpoint offset the stage-then-commit stores write.
  * Exactly those two calls are done in-process here; everything else
  * (`.crc` sidecars, umask, rename/overwrite semantics) is the stock
  * code. Symlinks, sticky bits and stores without POSIX attributes fall
  * through to the stock methods. Non-`file:` schemes are untouched. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = attribute.PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A non-link's link status is its status; only a symlink needs the
    * stock `readlink` to recover its target. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed [[LocalFileSystem]] over the fork-free
  * raw filesystem — the `FileSystem` path (parquet writers, commit
  * protocols, [[Hfs]]). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the stock `LocalFs` (a [[ChecksumFs]]
  * over `RawLocalFs`) with the fork-free raw filesystem underneath — the
  * `FileContext` path (streaming checkpoints, [[Hfs.writeStringAtomic]]). */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {

  /** The Hadoop keys binding `file:` to the fork-free classes, for a
    * session builder (as `spark.hadoop.` options) or a `Configuration`. */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Stock `RawLocalFs`, whose constructors are package-private. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
