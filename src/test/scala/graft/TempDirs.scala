package graft

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Temp dirs a spec makes through [[tempDir]] are deleted when the spec
  * ends, so repeated suite runs do not fill the host's temp dir with
  * logs, checkpoints, fixture copies and query outputs. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir named after `prefix`, deleted in `afterAll`. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally made.asScala.foreach(d => FileUtils.deleteQuietly(d.toFile))
}
