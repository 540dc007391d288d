package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`.crc` sidecars kept) over a
  * raw local file system that sets permissions in-process. Without the
  * native Hadoop library, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and it runs on every file create (data file and
  * `.crc`) and every directory create. Installed as `fs.file.impl` by
  * [[Tables.session]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** A `RawLocalFileSystem` whose `setPermission` sets the same mode bits
  * through `java.nio.file.Files.setPosixFilePermissions`. A sticky mode
  * (which NIO cannot set) and file stores without POSIX attributes take
  * Hadoop's own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(permission.toShort))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

object NioRawLocalFileSystem {
  // PosixFilePermission lists OWNER_READ ... OTHERS_EXECUTE, mode bits 8 down to 0
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (perm, i) => perm -> (1 << (8 - i)) }

  /** The permissions set in the low nine bits of `mode`. */
  def posix(mode: Short): java.util.Set[PosixFilePermission] =
    bits.collect { case (perm, bit) if (mode & bit) != 0 => perm }.toSet.asJava
}
