package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs and files for a suite's tests: everything made through
  * [[tempDir]] and [[tempFile]], with all that was written under it, is
  * deleted once the suite has run.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = keep(Files.createTempDirectory(prefix))

  def tempFile(prefix: String, suffix: String): Path = keep(Files.createTempFile(prefix, suffix))

  private def keep(p: Path): Path = { made.add(p); p }

  override def afterAll(): Unit =
    try made.forEach { p =>
      if (Files.exists(p)) {
        val all = Files.walk(p)
        try all.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f)) finally all.close()
      }
    } finally super.afterAll()
}
