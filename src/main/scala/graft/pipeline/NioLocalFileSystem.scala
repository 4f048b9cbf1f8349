package graft.pipeline

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset}
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

/** Hadoop's checksummed local filesystem, except that it sets
  * permissions through NIO. Without the native hadoop library,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and a
  * file commit sets permissions on every data file, every `.crc` file
  * and every `_temporary` directory: 9-10 forks per KG stage, each
  * 1.5-2.7 ms in a 3 GB JVM on a 4-core VM, where
  * `Files.setPosixFilePermissions` takes about 2 µs.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `setPermission` by NIO. The sticky bit, which NIO cannot express,
    * and filesystems without POSIX attributes take Hadoop's own path.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The rwx bits of `mode`: `PosixFilePermission` lists OWNER_READ
    * through OTHERS_EXECUTE, i.e. mode bits 8 down to 0.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (q, i) if (mode & (1 << (8 - i))) != 0 => q }.toSet.asJava

  /** Deletes `root` with everything under it, children first. */
  private[graft] def deleteTree(root: java.nio.file.Path): Unit = {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => { Files.deleteIfExists(p); () }) finally s.close()
  }

  /** `ds.write`, committing `file:` paths through [[NioLocalFileSystem]].
    * Hadoop caches one `file:` filesystem per JVM, so the cache is off
    * for these writes; other schemes (HDFS, S3) ignore both options.
    */
  private[pipeline] def writer[T](ds: Dataset[T]): DataFrameWriter[T] =
    ds.write
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
}
