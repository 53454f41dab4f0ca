package graft.sources

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, setting file modes in the JVM.
  *
  * Spark's writers, the output committers and the ledger set the mode of
  * every file and directory they create. Without the native Hadoop library
  * `RawLocalFileSystem.setPermission` forks a `chmod` process for each.
  * Here the same nine mode bits are set with `Files.setPosixFilePermissions`,
  * the `chmod(2)` call that process makes. The fork is kept where the two
  * could differ: a mode with the sticky bit, which the POSIX view cannot
  * set; a path that already carries a set-user- or set-group-ID bit, which
  * `chmod(2)` clears and GNU `chmod` keeps on a directory (a lake under a
  * set-group-ID directory); and a file store without Unix modes. Everything
  * else, checksum files included, is the stock `LocalFileSystem`.
  *
  * [[graft.core.GraftSession.builder]] registers it for `file:` paths with
  * [[LocalLakeFileSystem.sparkConf]]. Unregistered, `file:` resolves through
  * Hadoop's service list, which with Spark's Hive jars on the class path
  * gives Hive's `ProxyLocalFileSystem`, a path-rewriting wrapper around
  * `LocalFileSystem`. Hadoop caches one file system per scheme whatever the
  * configuration, so a JVM that resolved `file:` before the session was
  * built keeps the class it got then. */
class LocalLakeFileSystem extends LocalFileSystem(new LocalLakeFileSystem.Raw)

object LocalLakeFileSystem {

  /** The Spark settings that resolve `file:` paths to this class. */
  val sparkConf: Map[String, String] = Map("spark.hadoop.fs.file.impl" -> classOf[LocalLakeFileSystem].getName)

  private val unixModes = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val SetIds = 0xC00 // S_ISUID | S_ISGID

  /** rwx for owner, group and others: bit 8 down to bit 0, the enum's order. */
  private def posix(mode: Int) =
    PosixFilePermission.values.zipWithIndex.collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }.toSet.asJava

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      if (!unixModes || (mode & ~0x1FF) != 0 ||
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SetIds) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posix(mode))
    }
  }
}
