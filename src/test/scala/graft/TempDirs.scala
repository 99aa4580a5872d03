package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterEach, Suite}

/** Temp directories a test makes, deleted when that test ends. */
trait TempDirs extends BeforeAndAfterEach { this: Suite =>
  private val made = scala.collection.mutable.ArrayBuffer[Path]()

  /** A fresh `prefix*` directory in java.io.tmpdir, deleted after the test. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  override def afterEach(): Unit =
    try { made.foreach(TempDirs.delete); made.clear() }
    finally super.afterEach()
}

object TempDirs {
  /** Deletes `root` and everything under it, if it exists. */
  def delete(root: Path): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}
