package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** [[NioLocalFileSystem]] sets the permission bits Hadoop's own local
  * filesystem would, without forking `chmod`.
  */
class NioLocalFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val root: Path = Files.createTempDirectory("graft_niofs")

  override def afterAll(): Unit = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0x0fff

  // part files carry a random job id: mask it so two writes compare
  private val jobId = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every file and directory under `dir` (itself included) with its mode. */
  private def modes(dir: Path): Seq[(String, String)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .map(p => jobId.replaceAllIn(dir.relativize(p).toString, "<job>") -> f"${mode(p)}%04o").toSeq.sorted
    finally s.close()
  }

  test("a table committed through the helper gets the permissions of Hadoop's own commit") {
    val df = spark.range(0, 100, 1, 3).toDF("id")
    val plain = root.resolve("plain")
    val nio = root.resolve("nio")
    df.write.parquet(plain.toString)
    df.write.mode(SaveMode.Append).parquet(plain.toString)
    NioLocalFileSystem.writer(df).parquet(nio.toString)
    NioLocalFileSystem.writer(df).mode(SaveMode.Append).parquet(nio.toString)
    val written = modes(nio)
    assert(written.exists(_._1.endsWith(".crc")) && written.exists(_._1 == "_SUCCESS"), written)
    assert(written == modes(plain))
    assert(spark.read.parquet(nio.toString).count() == 200)
  }

  test("plain bits are set by NIO and the sticky bit falls back to Hadoop, with equal results") {
    val conf = new Configuration()
    val nio = new NioLocalFileSystem.Raw
    nio.initialize(URI.create("file:///"), conf)
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(URI.create("file:///"), conf)
    def set(fs: RawLocalFileSystem, p: Path, bits: Int): Int = {
      fs.setPermission(new HPath(p.toUri), new FsPermission(bits.toShort))
      mode(p)
    }
    def octal(ms: String*): Seq[Int] = ms.map(Integer.parseInt(_, 8))
    val dirBits = octal("0755", "0700", "1777", "1755")
    val fileBits = octal("0644", "0600", "0444", "0775")
    for ((bits, i) <- (dirBits ++ fileBits).zipWithIndex) {
      def target(tag: String): Path =
        if (i < dirBits.size) Files.createDirectory(root.resolve(s"dir$i$tag"))
        else Files.createFile(root.resolve(s"file$i$tag"))
      val byNio = set(nio, target("nio"), bits)
      assert(byNio == bits, f"$byNio%04o, want $bits%04o")
      assert(byNio == set(hadoop, target("hadoop"), bits), f"$bits%04o")
    }
  }
}
