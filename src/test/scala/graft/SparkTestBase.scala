package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** One shared local session across all suites (sbt forks a single test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = Session.local("graft-tests")

  /** Runs `body` on a new temporary directory named `prefix…` and deletes
    * the directory with everything in it afterwards, also when `body` throws. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}
