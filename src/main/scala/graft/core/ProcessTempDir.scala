package graft.core

import java.nio.file.{Files, Path}
import java.util.Comparator

/** A temporary directory kept for the life of the JVM: one shutdown hook
  * removes the tree, so a store a process reuses across calls does not
  * outlive it in the temp dir. */
object ProcessTempDir {
  def apply(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      if (Files.exists(dir))
        Files.walk(dir).sorted(Comparator.reverseOrder[Path]()).forEach(p => { Files.deleteIfExists(p); () })
    }
    dir.toString
  }
}
