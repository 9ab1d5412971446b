package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` scheme with no process per file operation. Without
  * the Hadoop native library, stock `RawLocalFileSystem` forks `chmod`
  * for every file and dir it creates and `readlink` for every link
  * status (each FileContext rename or stat), ~4 ms apiece; these do the
  * same through `java.nio` and leave the same files, bytes, `.crc`
  * sidecars and mode bits. Where libhadoop exists the stock path is a
  * syscall too, so there this costs the same. */
object LocalFs {

  /** Session conf binding the `file:` FileSystem (Parquet writes and
    * reads) and AbstractFileSystem (FileContext: streaming checkpoints,
    * state stores) to the classes below. It must reach the session before
    * the first `file:` access: Hadoop caches one FileSystem per scheme. */
  val sparkConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}

/** `RawLocalFileSystem` whose chmod and link status are syscalls. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits via `Files.setPosixFilePermissions`; a mode with
    * the sticky bit takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is 0400, 0200, … 0001
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(b => if ((mode >> (8 - b.ordinal) & 1) != 0) perms.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
    }
  }

  /** A path that is no symlink has its own status (what the stock method
    * returns once `readlink` finds no link); links take the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: stock `LocalFileSystem` (`.crc` checksums) over the above. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Stock `RawLocalFs` (the FileContext binding) over the above. */
class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: stock `LocalFs` (`ChecksumFs`) over
  * the above. Hadoop constructs it from (URI, conf); the URI is `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
