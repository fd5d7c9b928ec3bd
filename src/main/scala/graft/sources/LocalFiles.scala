package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem, minus its per-file process forks.
  *
  * Spark ships no libhadoop, so stock `RawLocalFileSystem` forks `chmod`
  * for every file and directory it creates (`setPermission`) and
  * `readlink` for every `getFileLinkStatus`, which `FileContext.rename`
  * calls on both ends. A `siri_live` perfbench run started 907
  * processes (682 `chmod`, 224 `readlink`), a `siri_backlog` run 2,631
  * `chmod`; a create + rename cost 10–12 ms per file, 0.2–0.3 ms here.
  *
  * Only those two methods change:
  *  - `setPermission` sets the same mode through `java.nio`
  *    (`Files.setPosixFilePermissions`); a sticky-bit mode, which
  *    `java.nio` cannot express, still goes through Hadoop's `chmod`;
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop returns once `readlink`
  *    finds no link; symlinks still take Hadoop's path.
  *
  * Everything else is Hadoop's, checksums included: [[LocalFiles.NoForkFileSystem]]
  * is a `LocalFileSystem` (`.crc` side files) and [[LocalFiles.NoForkFs]], the
  * `FileContext` binding that streaming checkpoints write through, is a
  * `ChecksumFs` over the same raw filesystem. [[graft.GraftSession]]
  * binds both to the `file` scheme (`fs.file.impl`,
  * `fs.AbstractFileSystem.file.impl`) in every session.
  */
object LocalFiles {

  class NoForkRawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))

    // Hadoop asks `readlink` about `new File(f.toString)`; ask the same file
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: Hadoop's `LocalFileSystem` over [[NoForkRawFileSystem]]. */
  class NoForkFileSystem extends LocalFileSystem(new NoForkRawFileSystem)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
    * over `RawLocalFs`), with [[NoForkRawFileSystem]] underneath. */
  class NoForkFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawFs(uri, conf))

  /** Hadoop's `RawLocalFs`, whose constructors are package-private. */
  private class NoForkRawFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new NoForkRawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
