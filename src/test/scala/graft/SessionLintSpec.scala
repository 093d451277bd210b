package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lints over src/main. Every main and the tests build their
  * session through [[Session]]: a second `SparkSession.builder` would let
  * settings drift apart again. Every `SPARK_GRAFT_*` knob is one more
  * configuration to cover, so adding one is a deliberate edit here. A
  * stateless SQL function is one row of `SqlFunctions`, not a hand-written
  * expression class. */
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

  /** (name, constructor parameters, declaration after them up to the body
    * or the next blank line) of every case class. */
  private lazy val caseClasses: Seq[(String, String, String)] = {
    val head = """case class (\w+)(\[[^\]]*\])?\(""".r
    sources.flatMap { case (_, s) =>
      head.findAllMatchIn(s).map { m =>
        var depth = 1
        var i = m.end
        while (depth > 0) {
          if (s(i) == '(') depth += 1 else if (s(i) == ')') depth -= 1
          i += 1
        }
        val end = Seq(s.indexOf('{', i), s.indexOf("\n\n", i), s.length).filter(_ >= 0).min
        (m.group(1), s.substring(m.end, i - 1), s.substring(i, end))
      }
    }
  }

  test("every fixed-arity expression class carries state; stateless ones are SqlFunctions rows") {
    // `st_covers_wkt` stays a class because SpatialPruningRule matches it
    val fixedArity = """extends\s+(Unary|Binary|Ternary|Quaternary)Expression\b""".r
    val stateless = caseClasses.collect {
      case (name, params, rest) if fixedArity.findFirstIn(rest).isDefined &&
          params.split(",").forall(_.split(":").last.trim == "Expression") =>
        name
    }.filterNot(_ == "STCoversWkt")
    assert(stateless.isEmpty)
  }

  test("CodegenFallback is used only by generators and stateful expressions") {
    val allowed = Set(
      "CrossLabelPairs", "ExplodeShingles", "JaccardBucketPairs", "PrefixBucketRows", // generators
      "BpeTokens", "BpeChunks", "BpeTokenIds", "BloomKeyMightContain") // broadcast state
    val fallback = caseClasses.collect {
      case (name, _, rest) if rest.contains("CodegenFallback") => name
    }
    assert(fallback.nonEmpty && fallback.toSet.subsetOf(allowed), fallback.filterNot(allowed))
    // and no other declaration mixes it in
    val mentions = sources.map { case (_, s) =>
      s.linesIterator.count(l => l.contains("CodegenFallback") && !l.trim.startsWith("import"))
    }.sum
    assert(mentions == fallback.size)
  }
}
