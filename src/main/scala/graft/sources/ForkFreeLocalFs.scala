package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its subprocesses. Without
  * libhadoop, `RawLocalFileSystem` runs `chmod` for every file it creates
  * and every directory it makes, and `readlink` for every
  * `getFileLinkStatus` (four per `FileContext` rename, which is how stream
  * checkpoints commit): about 3.4 ms a spawn from a JVM holding 2.4 GB on
  * a 4-core host, against 0.02 ms for the `java.nio` call. This class
  * does both through `java.nio` and leaves everything else to Hadoop:
  *   - `setPermission` sets the 9 permission bits with one `chmod(2)`. A
  *     sticky bit, or a path that already carries setuid/setgid/sticky
  *     bits (GNU `chmod 0755` keeps a directory's setgid bit), goes to
  *     Hadoop's `chmod`, as does a platform without the `unix` attribute
  *     view;
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus` (a missing path throws `FileNotFoundException`, as
  *     before); a symlink goes to Hadoop.
  * Registered for `file://` by [[graft.functions.GraftExtensions.applyDefaults]]. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort & 0x3ff // 9 permission bits + sticky
    val nio = (mode & 0x200) == 0 &&
      (try (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
       catch { case _: UnsupportedOperationException => false })
    if (nio) Files.setAttribute(file, "unix:mode", Integer.valueOf(mode))
    else super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext` view of [[ForkFreeRawLocalFileSystem]], with the three
  * overrides of Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` (whose
  * constructors are package-private), so checksum files stay
  * byte-identical. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` local
  * filesystem (Hadoop's `LocalFs`) over [[ForkFreeRawLocalFs]]. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
