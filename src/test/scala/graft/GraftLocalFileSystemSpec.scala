package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's local FS sets the modes Hadoop's stock (forking) path
  * sets, and is the FS the shared session resolves for `file:`. */
class GraftLocalFileSystemSpec extends SparkSpec {

  private def conf: Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "022")
    c
  }

  private def graftFs: FileSystem = {
    val fs = new GraftLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Creates a file and a directory under a fresh root through `fs`;
    * returns the modes of the file, its checksum and the directory. */
  private def created(fs: FileSystem): Seq[String] = {
    val root = Files.createTempDirectory("graftfs")
    val out = fs.create(new Path(root.toString, "f.bin"))
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(root.toString, "d/e")))
    Seq(mode(root.resolve("f.bin")), mode(root.resolve(".f.bin.crc")),
      mode(root.resolve("d")), mode(root.resolve("d/e")))
  }

  test("the shared session resolves file:/// to the graft FS") {
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[GraftLocalFileSystem.Raw])
  }

  test("created files and dirs get the stock path's modes (umask 022)") {
    val graft = created(graftFs)
    assert(graft == Seq("rw-r--r--", "rw-r--r--", "rwxr-xr-x", "rwxr-xr-x"))
    assert(graft == created(stockFs))
  }

  test("explicit 0700 and 0640 match the stock path") {
    for (octal <- Seq("700", "640")) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val modes = Seq(graftFs, stockFs).map { fs =>
        val f = Files.createTempFile("graftfs", ".bin")
        fs.setPermission(new Path(f.toString), perm)
        mode(f)
      }
      assert(modes.distinct.size == 1, s"$octal: $modes")
      assert(modes.head == (if (octal == "700") "rwx------" else "rw-r-----"))
    }
  }

  test("a sticky-bit permission falls back to the stock path") {
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    assert(GraftLocalFileSystem.posixPermissions(sticky).isEmpty)
    val dir = Files.createTempDirectory("graftfs")
    graftFs.setPermission(new Path(dir.toString), sticky)
    // java.nio cannot set the sticky bit: the stock chmod did
    val unixMode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert((unixMode & 0x1ff) == Integer.parseInt("755", 8))
    assert((unixMode & 0x200) != 0, f"mode $unixMode%o has no sticky bit")
  }
}
