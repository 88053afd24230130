package graft.util

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, `.crc` checksum files included, with an
  * in-process `setPermission`. Without libhadoop, RawLocalFileSystem sets
  * permissions by forking `chmod`, and it does so for every directory and
  * file it creates, each `.crc` too: about 13 ms per fork, which summed to
  * more thread time than a whole fresh encode's wall time. Every file
  * write the library issues names this class through [[LocalFs.WriteOptions]].
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Hadoop options of one `DataFrameWriter` write (`.options(...)`) that
    * send its `file:` paths through [[LocalFs]]; other schemes and the
    * session conf are untouched. The cache switch is needed: FileSystem's
    * cache key ignores the conf, so the cached `file:` instance would
    * otherwise serve the write.
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // owner rwx, group rwx, others rwx: the enum order, mode bits 8 down to 0
  private val modeBits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (p, 1 << (8 - i)) }

  /** Sets the same user/group/other bits as Hadoop's `chmod`, through nio.
    * Hadoop's own path is kept where nio cannot do that: a sticky bit, or
    * a platform without POSIX attributes.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        modeBits.foreach { case (perm, bit) => if ((mode & bit) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
  }
}
