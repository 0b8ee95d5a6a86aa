package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite}

/** Temporary directories that live as long as one test: [[tempDir]]
  * makes one, and every directory a test made is deleted in a `finally`
  * when the test ends, passed or failed (best effort: a directory that
  * cannot be deleted stays, and never fails the test).
  */
trait TempDirs extends TestSuite {
  private val made = ArrayBuffer.empty[Path]

  protected def tempDir(prefix: String): Path = made.synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally made.synchronized {
      made.foreach(d => FileUtils.deleteQuietly(d.toFile))
      made.clear()
    }
}
