package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without child processes on its common
  * calls. Without the Hadoop native library, the stock class forks the
  * whole JVM (4–5 ms each) for two of them:
  *  - `setPermission` runs `chmod` for every directory and file it
  *    makes: the committer's job and task directories, each part file
  *    and its `.crc`, `_SUCCESS` and its `.crc`. Plain mode bits
  *    (0–0777) go through `Files.setPosixFilePermissions` instead, in
  *    tens of microseconds; any other bits (sticky, setuid), or a
  *    platform without POSIX attributes, take the stock path.
  *  - `getFileLinkStatus`, which `FileContext` renames call on source,
  *    destination and both `.crc` files, runs `readlink` on
  *    `f.toString`. A path that is no symbolic link, tested in the JVM
  *    on that same string, is its plain `getFileStatus`, as the stock
  *    call returns it; a symbolic link takes the stock path. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (!LocalFs.posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posixOf(mode))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed local file system (`fs.file.impl`) over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `FileContext` side of the local file system
  * (`fs.AbstractFileSystem.file.impl`): Hadoop's `LocalFs` over
  * [[GraftRawLocalFileSystem]]. Streaming checkpoints and state stores
  * write through `FileContext`, whose stock `LocalFs` builds its own
  * `RawLocalFileSystem`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[GraftRawLocalFileSystem]]. */
private[graft] class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local paths may hold any name the OS takes
  override def isValidName(src: String): Boolean = true
}

private[graft] object LocalFs {
  val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `OWNER_READ` … `OTHERS_EXECUTE`, bit 8 down to bit 0 of a mode. */
  private val bits = PosixFilePermission.values.toSeq

  def posixOf(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.zipWithIndex.foreach { case (b, i) => if ((mode & (0x100 >> i)) != 0) s.add(b) }
    s
  }
}
