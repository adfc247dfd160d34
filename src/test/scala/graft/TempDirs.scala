package graft

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp directories a suite makes, deleted with all they hold once the
  * suite's last test has run. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]

  /** A new directory under `java.io.tmpdir` whose name starts with `prefix`. */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try made.forEach(dir => FileUtils.deleteDirectory(dir.toFile))
    finally super.afterAll()
}
