package graft.util

import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-file process starts.
  *
  * Without libhadoop, the stock [[RawLocalFileSystem]] runs `chmod` in a
  * child process for every `setPermission` — every create with a
  * permission, every `mkdirs`, both halves of a checksummed file — and
  * `readlink` for every `getFileLinkStatus`, which `FileContext.rename`
  * calls on both paths. A streaming checkpoint's offset, commit and
  * metadata writes, a state-store commit and each parquet part file pay
  * those forks.
  *
  *  - `setPermission` applies the 9 rwx bits through `java.nio` (one
  *    `chmod(2)`); a mode with sticky, setuid or setgid bits goes to the
  *    stock path.
  *  - `getFileLinkStatus` answers a path that is not a symbolic link
  *    with `getFileStatus`, which is what the stock one returns for it
  *    after its `readlink` finds nothing. A real link takes the stock
  *    path, so every answer is the stock one.
  *
  * Everything else — the `.crc` sidecars, rename semantics, listing —
  * is Hadoop's. [[NioLocalFileSystem]] and [[NioLocalFs]] wrap this one
  * the way `LocalFileSystem` and `local.LocalFs` wrap the stock one, and
  * `GraftSession.localFileSystem` registers them for the `file:` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.rwx(mode)): Unit
      catch {
        case e: NoSuchFileException =>
          throw new java.io.FileNotFoundException(
            s"File $p does not exist: ${e.getMessage}")
      }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {

  /** The rwx bits of `mode` (`0400` owner-read … `0001` others-execute)
    * as `java.nio` permissions; `PosixFilePermission` declares them in
    * that same order. */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) perms.add(p)
    }
    perms
  }
}

/** `fs.file.impl`: checksummed (`.crc` sidecars) over
  * [[NioRawLocalFileSystem]], exactly as Hadoop's `LocalFileSystem` is
  * over the stock raw one. `FileSystem.getLocal` and
  * [[AtomicPublish]]'s `LocalFileSystem` match keep working. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side (Spark's
  * checkpoint file manager): a `ChecksumFs` over [[NioRawLocalFs]], as
  * Hadoop's `local.LocalFs` is over `local.RawLocalFs`. `AbstractFileSystem`
  * instantiates it through this `(URI, Configuration)` constructor; like
  * `local.LocalFs`, it always binds `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** `local.RawLocalFs` — whose constructors are package-private — over
  * [[NioRawLocalFileSystem]], with the same overrides. */
class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  // local filesystems validate names themselves (as RawLocalFs does)
  override def isValidName(src: String): Boolean = true
}
