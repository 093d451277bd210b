package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lints over src/main. Every main and the tests build their
  * session through [[Session]]: a second `SparkSession.builder` would let
  * settings drift apart again. Every `SPARK_GRAFT_*` knob is one more
  * configuration to cover, so adding one is a deliberate edit here. A
  * stateless SQL function is one row of `SqlFunctions`, not a hand-written
  * expression class. A public def of the library packages has a caller in
  * src/main, or is a listed reference or piece of the reference toolkit's
  * API. */
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

  /** `s` with its comments blanked, line breaks kept: a name in a string
    * literal still counts as a use, one in a comment does not. */
  private def stripComments(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    var depth = 0 // nested block-comment depth
    var quote = "" // the open string literal's delimiter
    while (i < s.length) {
      val c = s(i)
      def at(t: String) = s.startsWith(t, i)
      if (depth > 0) {
        if (at("*/")) { depth -= 1; i += 2 }
        else if (at("/*")) { depth += 1; i += 2 }
        else { if (c == '\n') out += '\n'; i += 1 }
      } else if (quote.nonEmpty) {
        if (quote == "\"" && c == '\\') { out ++= s.slice(i, i + 2); i += 2 }
        else if (at(quote)) { out ++= quote; i += quote.length; quote = "" }
        else { out += c; i += 1 }
      } else if (at("//")) {
        while (i < s.length && s(i) != '\n') i += 1
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("\"\"\"")) { quote = "\"\"\""; out ++= quote; i += 3 }
      else if (c == '"') { quote = "\""; out += c; i += 1 }
      else if (at("'\"'")) { out ++= "'\"'"; i += 3 }
      else { out += c; i += 1 }
    }
    out.result()
  }

  /** [[sources]] with comments stripped. */
  private lazy val code: Seq[(String, String)] =
    sources.map { case (p, s) => p -> stripComments(s) }

  /** Public defs that no other src/main code calls, each with the reason
    * it stays: tests compare a served def against it, or it is the
    * reference toolkit's own API. */
  private val unservedAllowed = Map(
    "SpatialJoin.knnJoin" -> "window reference for the served knnJoinAgg heap",
    "EventAnalytics.twapPlain" -> "unsalted reference for the served twapSalted",
    "Dedup.clusterKeepList" -> "uncollapsed reference for hash64KeepList and textKeepList",
    "Dedup.ngramJaccardPairs" -> "flat reference for the served ngramJaccardPairsFused",
    "TextAnalysis.importanceState" -> "two-scan reference for the served importanceStateFused",
    "Graph.modularityPermille" -> "its negative-Q fixture checks modularityFrom's truncation",
    "Gis.writeGeoJson" -> "the reference's GeoJSON figures output (SURVEY S8)",
    "GeohashPruning.hullOfCells" -> "the reference's hull of cell corners (WithinQuery.java:70-77)",
    "Polygon.coversPolygon" -> "the reference's polygon-in-hull test (WithinQuery.java:89, :94)",
    "Geom.parseWktPolygon" -> "the reference's WKT polygon query argument",
    "Geom.toWkt" -> "the reference's WKT filter round trip (WithinFilter, Filter.proto:12-17)")

  /** Owner.name of every public def in graft.api, .pipeline, .geo and
    * .text whose name appears nowhere else in src/main: not in another
    * file, and not in its own file outside its declaration and body. A
    * def counts as public when it has no access modifier and its
    * enclosing declaration (the nearest earlier line indented less) is a
    * non-private object, class or trait; nested defs are local. */
  private lazy val unserved: Seq[String] = {
    val decl = """^( *)((?:(?:final|implicit|override|private|protected)(?:\[\w+\])? +)*)def +(\w+)""".r
    val owner = """\b(?:object|class|trait) +(\w+)""".r
    def indent(l: String) = l.takeWhile(_ == ' ').length
    code.filter { case (p, _) =>
      Seq("api", "pipeline", "geo", "text").exists(d => p.startsWith(s"graft/$d/"))
    }.flatMap { case (p, s) =>
      val lines = s.split("\n", -1).toIndexedSeq
      lines.indices.flatMap { i =>
        for {
          m <- decl.findFirstMatchIn(lines(i)).toSeq
          if !Seq("private", "protected", "override").exists(m.group(2).contains)
          n = m.group(1).length
          enclosing <- (i - 1 to 0 by -1).map(lines).find(l => l.trim.nonEmpty && indent(l) < n)
          if !enclosing.contains("private")
          o <- owner.findFirstMatchIn(enclosing)
          name = m.group(3)
          word = s"\\b$name\\b".r
          end = (i + 1 until lines.length)
            .find(j => lines(j).trim.nonEmpty && indent(lines(j)) <= n).getOrElse(lines.length)
          own = (lines.take(i) ++ lines.drop(end))
            .map(s"\\bdef +$name\\b".r.replaceAllIn(_, ""))
          if !own.exists(word.findFirstIn(_).isDefined)
          if !code.exists { case (q, t) => q != p && word.findFirstIn(t).isDefined }
        } yield s"${o.group(1)}.$name"
      }
    }.distinct
  }

  test("every public def of api, pipeline, geo and text is called from src/main or allow-listed") {
    assert(unserved.nonEmpty, "the scan found no def at all")
    assert(unserved.filterNot(unservedAllowed.contains).isEmpty)
    // an entry that gains a caller or goes away leaves the list
    assert(unservedAllowed.keySet.diff(unserved.toSet).isEmpty)
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
