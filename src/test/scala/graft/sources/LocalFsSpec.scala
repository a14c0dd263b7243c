package graft.sources

import graft.TestSpark
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** `LocalFs` must set exactly the permission bits Hadoop's stock local file
  * system sets, and every session `GraftSession` builds must use it.
  */
class LocalFsSpec extends AnyFunSuite {

  private def fs(raw: RawLocalFileSystem): RawLocalFileSystem = {
    raw.initialize(URI.create("file:///"), new Configuration())
    raw
  }
  private lazy val stock = fs(new RawLocalFileSystem)
  private lazy val graft = fs(new LocalFs.Raw)

  /** The whole mode word, sticky and set-id bits included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** The bits each file system leaves on a fresh entry made by `make` after
    * `setPermission(m)`, for every `m` of `modes`.
    */
  private def compare(modes: Seq[Int])(make: JPath => JPath): Unit = {
    val root = Files.createTempDirectory("localfs")
    for (m <- modes) {
      val (a, b) = (make(root.resolve(s"stock-$m")), make(root.resolve(s"graft-$m")))
      stock.setPermission(new Path(a.toUri), new FsPermission(m.toShort))
      graft.setPermission(new Path(b.toUri), new FsPermission(m.toShort))
      assert(Files.getPosixFilePermissions(b) === Files.getPosixFilePermissions(a), f"mode 0$m%o")
      assert(mode(b) === mode(a), f"mode 0$m%o")
      assert(mode(b) === m, f"mode 0$m%o")
    }
  }

  test("every file mode 0000-0777 gets the bits Hadoop's stock setPermission sets") {
    compare(0 to 0x1ff)(Files.createFile(_))
  }

  test("directory modes get the bits Hadoop's stock setPermission sets") {
    compare(Seq(0x000, 0x040, 0x124, 0x140, 0x1c0, 0x1e8, 0x1ed, 0x1ff, 0x092, 0x049))(Files.createDirectory(_))
  }

  test("a mode with the sticky bit takes Hadoop's path, which sets it") {
    // java.nio cannot set the sticky bit, so finding it set shows Hadoop's
    // own path ran
    val dir = Files.createDirectory(Files.createTempDirectory("localfs").resolve("sticky"))
    graft.setPermission(new Path(dir.toUri), new FsPermission(0x3ff.toShort)) // 01777
    assert(mode(dir) === 0x3ff)
    graft.setPermission(new Path(dir.toUri), new FsPermission(0x1ed.toShort)) // 0755
    assert(mode(dir) === 0x1ed)
  }

  test("rename refuses an existing destination file, as Hive's ProxyLocalFileSystem does") {
    val conf = TestSpark.spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("localfs")
    def file(name: String, text: String): Path = {
      Files.writeString(dir.resolve(name), text)
      new Path(dir.resolve(name).toUri)
    }
    for (f <- Seq(new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem, new LocalFs)) {
      f.initialize(URI.create("file:///"), conf)
      val (src, dst) = (file("src", "a"), file("dst", "b"))
      assert(!f.rename(src, dst), f.getClass.getName)
      assert(Files.readString(dir.resolve("dst")) === "b" && Files.exists(dir.resolve("src")), f.getClass.getName)
      assert(f.rename(src, new Path(dir.resolve("moved").toUri)), f.getClass.getName)
      assert(Files.readString(dir.resolve("moved")) === "a", f.getClass.getName)
      Seq("dst", "moved").foreach(n => Files.delete(dir.resolve(n)))
    }
  }

  test("a session's Hadoop conf makes file:// a LocalFs, checksums kept") {
    val conf = TestSpark.spark.sparkContext.hadoopConfiguration
    val fresh = FileSystem.newInstance(new URI("file:///"), conf)
    try {
      assert(fresh.getClass === classOf[LocalFs])
      assert(fresh.asInstanceOf[LocalFs].getRaw.getClass === classOf[LocalFs.Raw])
      val file = new Path(Files.createTempDirectory("localfs").resolve("f").toUri)
      fresh.create(file).close()
      assert(fresh.exists(new Path(file.getParent, ".f.crc")), "no checksum sidecar")
    } finally fresh.close()
    // the cached instance Spark's writers get, built from the same conf
    assert(FileSystem.get(new URI("file:///"), conf).getClass === classOf[LocalFs])
  }
}
