package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main and the tests build their session through [[Session]]: a
  * second `SparkSession.builder` under src/main would let settings drift
  * apart again. */
class SessionLintSpec extends AnyFunSuite {
  test("SparkSession.builder appears only in the session factory") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally walk.close()
    assert(builders == Seq("graft/Session.scala"))
  }
}
