package graft.sources

import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a `chmod` process per file.
  *
  * Without native Hadoop libraries, `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file, `.crc` file and directory it creates:
  * once in the parquet writer's create/mkdirs and again in the output
  * committer's merge. A partitioned write of a few hundred small files
  * spends most of its executor time in those forks. This file system
  * applies the same nine permission bits through
  * `java.nio.file.Files.setPosixFilePermissions` instead, and falls back
  * to the stock path for the sticky bit (which java.nio cannot set) or a
  * file store without POSIX attributes.
  *
  * It is a local-FS-only optimisation: object stores have no `chmod`
  * fork to save. Select it per write with [[ForkFreeLocalFileSystem.writeOptions]],
  * which reach only that write's Hadoop configuration; it is never set
  * in the session or the global Hadoop configuration. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** The raw (checksum-less) layer whose setPermission avoids the fork. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(permission))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The nine rwx bits of `permission` as a java.nio permission set
    * (PosixFilePermission enumerates owner r/w/x, group r/w/x, others
    * r/w/x: the mode bits 0400 down to 0001). */
  private def posixBits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort & 0x1ff
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values().zipWithIndex.foreach { case (bit, i) =>
      if ((mode & (1 << (8 - i))) != 0) out.add(bit)
    }
    out
  }

  /** Options for a partitioned parquet write: committer v2 (task output
    * moves to its final directory in the parallel task commit) and, for
    * `file:` paths, this file system. `disable.cache` keeps the instance
    * out of Hadoop's process-wide FileSystem cache, which is keyed by
    * scheme and user, not by configuration: with the cache on, the write
    * would get the cached stock instance, or leave this one to others. */
  val writeOptions: Map[String, String] = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
