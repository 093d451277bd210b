package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session across all suites (sbt forks a single test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = Session.local("graft-tests")

  /** Runs `body` on a new temporary directory named `prefix…` and deletes
    * the directory with everything in it afterwards, also when `body` throws. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally deleteTree(dir)
  }

  /** Deletes `dir` with everything in it. */
  def deleteTree(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally walk.close()
  }
}

/** Temporary directories for a suite's tests, all under one root that is
  * deleted, with everything in it, after the suite's last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private var root: Option[Path] = None

  /** A new empty directory named `prefix…`. */
  def tempDir(prefix: String): Path = synchronized {
    val r = root.getOrElse {
      val d = Files.createTempDirectory("graft_suite_")
      root = Some(d)
      d
    }
    Files.createTempDirectory(r, prefix)
  }

  override def afterAll(): Unit =
    try super.afterAll() finally root.foreach(SparkTestBase.deleteTree)
}
