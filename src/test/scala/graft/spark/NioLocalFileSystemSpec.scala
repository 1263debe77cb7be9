package graft.spark

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** [[NioLocalFileSystem]] sets the same mode bits as Hadoop's stock local file
  * system (a `chmod`), and only writes that ask for it get it. The modes and
  * `.crc` files of a whole job's output are checked in [[ExtractE2ESpec]].
  * Every other `file:` path gets Hadoop's own LocalFileSystem: the build
  * keeps Hive's jars, and with them Hive's ProxyLocalFileSystem, off the
  * classpath. */
class NioLocalFileSystemSpec extends SparkTestBase {

  private val conf = new Configuration()
  private val root = URI.create("file:///")
  private lazy val nio = { val fs = new NioLocalFileSystem; fs.initialize(root, conf); fs }
  private lazy val stock = { val fs = new RawLocalFileSystem; fs.initialize(root, conf); fs }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** The modes `perm` leaves on a fresh file or directory set through each
    * file system, as `(nio, stock)`. */
  private def modes(perm: Int, dir: Boolean): (Int, Int) = {
    val base = Files.createTempDirectory("graft_nio_fs_spec")
    def make(name: String, fs: FileSystem): Int = {
      val p = base.resolve(name)
      if (dir) Files.createDirectory(p) else Files.createFile(p)
      fs.setPermission(new Path(p.toUri), new FsPermission(perm.toShort))
      mode(p)
    }
    (make("nio", nio), make("stock", stock))
  }

  test("plain modes on files and directories read back as chmod sets them") {
    for (perm <- Seq("644", "755", "600", "750", "0", "777").map(octal);
         dir <- Seq(false, true)) {
      val (got, want) = modes(perm, dir)
      assert(got == want && got == perm, f"mode $perm%o dir=$dir: nio $got%o, chmod $want%o")
    }
  }

  test("a sticky-bit directory mode reads back as chmod sets it") {
    val sticky = octal("1755")
    val (got, want) = modes(sticky, dir = true)
    assert(got == want && got == sticky, f"nio $got%o, chmod $want%o")
  }

  test("the write options pick it for file: paths only, uncached") {
    val withOpts = NioLocalFileSystem.conf(conf)
    val local = new Path("file:///tmp")
    assert(local.getFileSystem(withOpts).isInstanceOf[NioLocalFileSystem])
    assert(local.getFileSystem(withOpts) ne local.getFileSystem(withOpts))
    assert(!local.getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    assert(conf.get("fs.file.impl") == null)
  }

  test("file: is Hadoop's LocalFileSystem and the catalog is in-memory") {
    val fs = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[LocalFileSystem], fs.getClass.getName)
    assert(spark.conf.get("spark.sql.catalogImplementation") == "in-memory")
  }
}
