package graft.core

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without child processes.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks `chmod` for
  * every file and directory it creates and `readlink` for every
  * `getFileLinkStatus` — which `FileContext.rename` calls on source and
  * destination of each checkpoint, offset-log and state-store write
  * (about 2 ms a fork, against microseconds for the syscall). This
  * subclass does both in the JVM; every other operation, `rename`
  * included, is Hadoop's own.
  *
  * `src/main/resources/core-site.xml` registers the two wrappers below
  * under Hadoop's keys `fs.file.impl` ([[GraftLocalFileSystem]], the
  * `FileSystem` API) and `fs.AbstractFileSystem.file.impl`
  * ([[GraftLocalFs]], the `FileContext` API), so every Hadoop
  * `Configuration` on this classpath picks them up. Setting
  * `spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=org.apache.hadoop.fs.local.LocalFs`
  * restores the stock classes.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) with the permission's 12 bits, sticky bit included —
    * what Hadoop's forked `chmod %04o` sets. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Integer.valueOf(permission.toShort & 0xfff))

  /** Hadoop runs `readlink` on `new File(f.toString)` and, when that
    * names no link, returns `getFileStatus(f)`. For a qualified
    * `file:/…` path that File is never a link, so the fork always
    * fails; only a path the same File resolves to a link goes to
    * Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new java.io.File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[GraftRawLocalFileSystem]] with `.crc` checksums, for the
  * `FileSystem` API. It stays a `LocalFileSystem`, which
  * `FileSystem.getLocal` casts to. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** [[GraftRawLocalFileSystem]] as an `AbstractFileSystem`, with the
  * overrides of Hadoop's `RawLocalFs` (whose constructors are
  * package-private). */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** [[GraftRawLocalFs]] with `.crc` checksums, for the `FileContext` API
  * (Spark's checkpoint, offset and state-store writes). Hadoop builds
  * it through its `(URI, Configuration)` constructor. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))
