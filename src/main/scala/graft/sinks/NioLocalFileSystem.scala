package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with `setPermission` made in-process.
  * Without libhadoop, [[RawLocalFileSystem]] forks a `chmod` process for
  * every file and directory it creates; `java.nio` makes the same change
  * with one system call. A sticky bit, or a filesystem with no POSIX
  * attribute view, falls back to Hadoop's own method.
  */
final class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
      .map(_.SYMBOL).mkString
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try {
      val _ = Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
    } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

object NioLocalFileSystem {

  /** Options for one DataFrame write (they reach only that write's Hadoop
    * conf): its `file:` paths go through an uncached [[NioLocalFileSystem]],
    * so no session setting, FileSystem cache entry or other scheme
    * changes. The raw filesystem writes no `.crc` sidecars; the store
    * never kept them, and Hadoop's reads do not require them.
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
