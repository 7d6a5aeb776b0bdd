package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalactic.source.Position
import org.scalatest.{Args, Assertions, Outcome, Status, TestSuite}

/** File helpers shared by specs. */
object TestFiles {

  /** Cancels the calling test, naming `path`, unless the file or directory
    * exists. For inputs the repo does not hold (the reference checkout's test
    * data and docs): the test runs wherever they are present. */
  def assumeFile(path: String)(implicit pos: Position): Unit =
    if (!Files.exists(Paths.get(path))) Assertions.cancel(s"NOT RUN: $path absent")

  /** Runs `f` with the session confs `kv` set, then restores each to its
    * previous value or unsets it. Suites share one SparkSession, so a conf a
    * test leaves set would reach every suite that runs after it. */
  def withConfs[T](kv: (String, String)*)(f: => T): T = {
    val conf = SparkTestSession.spark.conf
    val old = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

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
  * the test wrote into it, when the test ends, pass or fail. A
  * `suiteTempDir` holds a fixture several tests read and is deleted when
  * the suite ends. */
trait TempDirs extends TestSuite {
  private val created = new ConcurrentLinkedQueue[Path]
  private val suiteCreated = new ConcurrentLinkedQueue[Path]

  protected def tempDir(prefix: String): Path = createIn(created, prefix)

  protected def suiteTempDir(prefix: String): Path = createIn(suiteCreated, prefix)

  private def createIn(q: ConcurrentLinkedQueue[Path], prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    q.add(d)
    d
  }

  private def deleteAll(q: ConcurrentLinkedQueue[Path]): Unit =
    Iterator.continually(q.poll()).takeWhile(_ != null).foreach(TestFiles.deleteRecursively)

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally deleteAll(created)

  abstract override def run(testName: Option[String], args: Args): Status = {
    val status = try super.run(testName, args) catch {
      case e: Throwable => deleteAll(suiteCreated); throw e
    }
    status.whenCompleted(_ => deleteAll(suiteCreated))
    status
  }
}
