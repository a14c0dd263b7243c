package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `LocalFileSystem` (the stock `file://` class, `.crc`
  * sidecars and read-side checksum checks included) over a raw file system
  * whose `setPermission` sets the nine rwx bits through
  * `java.nio.file.Files` instead of Hadoop's own path. Without Hadoop's
  * native library that path forks one `chmod` process per call, and Spark's
  * writer calls it for every data file, every `.crc` sidecar and every
  * directory it creates. The bits set are the same, only the forked process
  * is gone. A mode with the sticky bit (the one bit beyond 0777 that an
  * `FsPermission` carries), and a file system with no POSIX attribute
  * view, still go to Hadoop's path.
  *
  * `rename` refuses a destination that is an existing file, as the Hadoop
  * `FileSystem` contract asks; the stock `LocalFileSystem` would overwrite
  * it. Without `fs.file.impl`, Hadoop's service loader serves `file://`
  * with Hive's `ProxyLocalFileSystem` whenever `hive-exec` is on the
  * classpath, as it is in the Spark distribution. That class is the stock
  * one plus this refusal, and this class keeps it.
  *
  * `GraftSession` installs it as `fs.file.impl`. It applies only to the
  * `file://` instances created from a session's Hadoop conf. Hadoop caches
  * file systems per scheme and user, not per conf: if something cached a
  * `file://` instance from a plain `Configuration` before the session
  * existed, `FileSystem.get` keeps handing out that stock instance, to the
  * session's writers too.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean = !pathToFile(dst).isFile && super.rename(src, dst)
}

object LocalFs {

  /** `RawLocalFileSystem` with the `setPermission` described on [[LocalFs]]. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (permission.getStickyBit || view == null) super.setPermission(p, permission)
      // without the sticky bit, toString is the nine-letter rwx form
      else view.setPermissions(PosixFilePermissions.fromString(permission.toString))
    }
  }
}
