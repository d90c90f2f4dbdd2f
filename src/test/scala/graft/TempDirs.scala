package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.sources.DerivedLayout

/** Temporary directories for a suite: each [[tempDir]] is deleted, with
  * everything under it, after the suite's last test — and so is the
  * derived state ([[DerivedLayout.corpusRoot]]) of every directory under
  * it that served as a corpus. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tmpDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the system temp dir. */
  protected def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  private def deleteTree(d: Path): Unit =
    if (Files.exists(d))
      Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })

  private def dirsUnder(d: Path): List[Path] =
    if (!Files.exists(d)) Nil
    else scala.util.Using.resource(Files.walk(d))(_.filter(Files.isDirectory(_)).iterator().asScala.toList)

  /** Deletes a corpus's derived state, and that of any corpus derived
    * inside it (a gate's working copy lives under its corpus's root). */
  private def deleteDerived(corpus: Path): Unit = {
    val root = Paths.get(DerivedLayout.corpusRoot(corpus.toString))
    dirsUnder(root).foreach(deleteDerived)
    deleteTree(root)
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.asScala.foreach { d =>
      dirsUnder(d).foreach(deleteDerived)
      deleteTree(d)
    }
}
