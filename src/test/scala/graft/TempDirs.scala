package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temporary directories for a suite: each [[tempDir]] is deleted, with
  * everything under it, after the suite's last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tmpDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp dir. */
  protected def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.asScala.foreach { d =>
      if (Files.exists(d))
        Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
    }
}
