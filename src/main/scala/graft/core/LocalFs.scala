package graft.core

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process per call. Without the
  * native Hadoop library, `RawLocalFileSystem` forks `chmod` for every
  * file or directory it creates with a mode, and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends.
  * Here both are answered in the JVM through `java.nio.file`. Everything
  * else, checksums and `.crc` sidecars included, is Hadoop's own code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `Files.setPosixFilePermissions`; a sticky
    * bit, or a filesystem without POSIX attributes, takes Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !ForkFreeRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ is bit 8, ..., OTHERS_EXECUTE bit 0
      PosixFilePermission.values.foreach(b =>
        if ((mode & (1 << (8 - b.ordinal))) != 0) perms.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** A path that is not a symlink has the same status as `getFileStatus`
    * (which throws `FileNotFoundException` for a missing one); a real
    * symlink takes Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The `FileSystem` face (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `AbstractFileSystem` face (`fs.AbstractFileSystem.file.impl`), used
  * by `FileContext` and so by Spark's checkpoint file manager: Hadoop's
  * `ChecksumFs` over [[ForkFreeRawLocalFileSystem]], as `LocalFs` is over
  * `RawLocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

object ForkFreeLocalFs {
  /** `RawLocalFs` with the raw filesystem swapped; its constructors are
    * package-private, so its four overrides are repeated here. */
  final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
