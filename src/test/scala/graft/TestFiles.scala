package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalactic.source.Position
import org.scalatest.{Assertions, Outcome, TestSuite}

/** File helpers shared by specs. */
object TestFiles {

  /** Cancels the calling test, naming `path`, unless the file or directory
    * exists. For inputs the repo does not hold (the reference checkout's test
    * data and docs): the test runs wherever they are present. */
  def assumeFile(path: String)(implicit pos: Position): Unit =
    if (!Files.exists(Paths.get(path))) Assertions.cancel(s"NOT RUN: $path absent")

  /** Deletes `p` and, for a directory, its contents; symlinks are deleted,
    * not followed. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.forEach(c => deleteRecursively(c)) finally children.close()
    }
    Files.deleteIfExists(p)
  }
}

/** Temp dirs that live for one test: each `tempDir` is deleted, with what
  * the test wrote into it, when the test ends, pass or fail. */
trait TempDirs extends TestSuite {
  private val created = new ConcurrentLinkedQueue[Path]

  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    created.add(d)
    d
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally Iterator.continually(created.poll()).takeWhile(_ != null)
      .foreach(TestFiles.deleteRecursively)
}
