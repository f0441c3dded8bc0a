package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two child processes.
  * With no libhadoop native library, `RawLocalFileSystem` runs `chmod`
  * in a new process for every file and directory it creates with a
  * permission (`setPermission`), and `readlink` for every path a
  * rename looks at (`getFileLinkStatus`). On a 4-core Linux host a
  * streaming batch's offsets file took about 50 ms to write
  * (`walCommit`) with them and 5 ms without. Both methods
  * are virtual calls from the file output stream, `mkOneDirWithMode`
  * and `rename`, so overriding them here covers every such call.
  */
class NioLocalFileSystem extends RawLocalFileSystem {
  import NioLocalFileSystem._

  /** The nine rwx bits through `java.nio`; a sticky bit keeps
    * Hadoop's `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = new java.util.HashSet[PosixFilePermission]
      Bits.foreach { case (bit, perm) => if ((mode & bit) != 0) perms.add(perm) }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** Only a symlink needs `readlink`; anything else is its own status
    * (a missing path throws `FileNotFoundException`, as before).
    */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NioLocalFileSystem {
  /** Mode bit of each permission, owner read (0400) down to others
    * execute (0001), in `PosixFilePermission`'s declaration order.
    */
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex.map {
    case (perm, i) => (1 << (8 - i), perm)
  }
}

/** `FileContext`'s `file:` filesystem over [[NioLocalFileSystem]]: the
  * same checksummed layering as Hadoop's `LocalFs` (a `ChecksumFs`
  * over a `RawLocalFs`), so streaming checkpoints and state-store
  * files keep their `.crc` siblings. [[GraftExtensions]] binds it as
  * `fs.AbstractFileSystem.file.impl`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {

  /** `RawLocalFs` with [[NioLocalFileSystem]] underneath, carrying
    * `RawLocalFs`'s overrides (its own constructor is package-private).
    */
  class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
