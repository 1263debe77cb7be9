package graft.spark

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local file system with a `setPermission` that starts no
  * process. Without the native hadoop library, the stock one runs
  * `Shell.execCommand(chmod …)` for every file it creates (each part file and
  * its `.crc`) and every directory it makes, and the writing task blocks on
  * the child. Here the same mode bits are set by
  * `Files.setPosixFilePermissions`, one `chmod` syscall. Modes with bits
  * above `0777` (the sticky bit), non-POSIX platforms and hosts where the
  * native library already does the `chmod` keep the stock path. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0 || !NioLocalFileSystem.posix || NativeIO.isAvailable)
      super.setPermission(p, permission)
    else {
      // PosixFilePermission's ordinals run OWNER_READ (0400) … OTHERS_EXECUTE (0001)
      val perms = PosixFilePermission.values.filter(q => (mode & (0x100 >> q.ordinal)) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }
}

/** [[NioRawLocalFileSystem]] under Hadoop's checksummed local file system,
  * so every file still gets its `.crc`. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  private[spark] val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Hadoop options that make one write resolve `file:` paths to
    * [[NioLocalFileSystem]]. The instance is uncached, so neither the
    * session's Hadoop conf nor the JVM-wide `FileSystem` cache changes;
    * other schemes (HDFS, S3) resolve as before. Spark copies a writer's
    * options into the write's Hadoop conf, for the job commit and for every
    * task. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `base` with [[WriteOptions]] set, for a file written outside
    * a `DataFrameWriter`. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    WriteOptions.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
