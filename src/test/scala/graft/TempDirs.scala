package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temporary directories and files for a suite, deleted with everything
  * in them when the suite ends. Every spec creates its scratch space
  * through these two methods. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val created = new ConcurrentLinkedQueue[Path]()
  private def keep(p: Path): Path = { created.add(p); p }

  def tempDir(prefix: String): Path = keep(Files.createTempDirectory(prefix))
  def tempFile(prefix: String, suffix: String): Path =
    keep(Files.createTempFile(prefix, suffix))

  override def afterAll(): Unit =
    try super.afterAll()
    finally created.asScala.foreach(p => FileUtils.deleteQuietly(p.toFile))
}
