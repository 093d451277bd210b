package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lints over src/main. Every main and the tests build their
  * session through [[Session]]: a second `SparkSession.builder` would let
  * settings drift apart again. Every `SPARK_GRAFT_*` knob is one more
  * configuration to cover, so adding one is a deliberate edit here. */
class SessionLintSpec extends AnyFunSuite {

  /** (path relative to src/main/scala, contents) of every Scala source. */
  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq.sorted
    finally walk.close()
  }

  test("SparkSession.builder appears only in the session factory") {
    val builders = sources.collect { case (p, s) if s.contains("SparkSession.builder") => p }
    assert(builders == Seq("graft/Session.scala"))
  }

  private val knobs = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", // Session
    "SPARK_GRAFT_ONLY", // Gate.only: Bench and Verify
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_RUNS", "SPARK_GRAFT_SCALE_SF1", // Bench
    "SPARK_GRAFT_DUMP", // RunQuery
    "SPARK_GRAFT_PLAN_DIR", "SPARK_GRAFT_PLAN_TAG", "SPARK_GRAFT_PROFILE_RUNS") // ProfileQ

  test("src/main reads exactly the listed SPARK_GRAFT_* knobs") {
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val found = sources.flatMap { case (_, s) => knob.findAllIn(s) }.toSet
    assert(found == knobs)
  }

  test("every environment read in src/main names a listed knob") {
    // each read is sys.env / System.getenv applied to a string literal;
    // a read of any other shape (a computed name, the whole map) fails too
    val read = """(sys\.env|System\.getenv)(\.(getOrElse|get|contains|apply))?(\(\s*"([^"]*)")?""".r
    val names = sources.flatMap { case (p, s) =>
      read.findAllMatchIn(s).map(m => p -> Option(m.group(5)))
    }
    assert(names.nonEmpty)
    assert(names.filterNot { case (_, n) => n.exists(knobs) }.isEmpty)
  }

  test("src/main uses no Structured Streaming API") {
    val streaming = """\b(readStream|writeStream|GroupState|flatMapGroupsWithState|""" +
      """withWatermark|dropDuplicatesWithinWatermark)\b"""
    val hits = sources.flatMap { case (p, s) =>
      streaming.r.findAllIn(s).map(h => s"$p: $h")
    }
    assert(hits.isEmpty)
  }
}
