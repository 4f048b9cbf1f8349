package graft

import org.scalatest.{BeforeAndAfterAll, Suite}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Temporary output roots for a spec: every directory made with
  * [[freshRoot]] is deleted, with all it holds, after the spec's last
  * test, so a test run leaves nothing behind in the temp directory.
  */
trait TempRoots extends BeforeAndAfterAll { this: Suite =>

  private val roots = mutable.ArrayBuffer.empty[Path]

  /** A new empty directory in the system temp directory, named `prefix`
    * and a random suffix.
    */
  protected def freshRoot(prefix: String): Path = {
    val root = Files.createTempDirectory(prefix)
    roots += root
    root
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally roots.foreach(graft.pipeline.NioLocalFileSystem.deleteTree)
}
