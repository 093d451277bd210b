package graft

import java.nio.file.{Files, Path}
import graft.Bench.Entry
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The bench loop's contract: every entry is timed n times in rotated
  * order, a throwing entry is named in `failures` without stopping the
  * run, the record carries the keys `tools/compare_bench.py` reads, and
  * the run's scratch directory is gone afterwards, thrown or not. */
class BenchHarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val SfDir = "/root/testdata/sf0.001"

  private def fast(name: String, ran: ArrayBuffer[String]): Entry =
    Entry(name, () => { spark.range(1000).count(); ran += name; JObject() })

  private val boom = Entry("q_boom", () => throw new RuntimeException("boom"))

  /** Writes under the scratch directory and records one field. */
  private def writer(scratch: Path): Entry = Entry("ev_write", () => {
    spark.range(10).write.mode("overwrite").parquet(scratch.resolve("w").toString)
    JObject("rows" -> JInt(10))
  })

  test("a throwing entry is named in failures and later entries still run clean") {
    val ran = ArrayBuffer.empty[String]
    val t = Bench.timeAll(spark, Seq(fast("q_a", ran), boom, fast("q_b", ran)), 1)
    assert(t.failures == Seq("q_boom"))
    assert(ran.toSeq == Seq("q_a", "q_b"))
    assert(t.runs.map(_.map(_._1)) == Seq(Seq("q_a", "q_boom", "q_b")))
  }

  test("with n = 3 every entry is timed 3 times, in rotated order") {
    val ran = ArrayBuffer.empty[String]
    val t = Bench.timeAll(spark, Seq("q_a", "q_b", "q_c").map(fast(_, ran)), 3)
    val rotated = Seq(Seq("q_a", "q_b", "q_c"), Seq("q_b", "q_c", "q_a"), Seq("q_c", "q_a", "q_b"))
    assert(t.runs.map(_.map(_._1)) == rotated)
    assert(ran.toSeq == rotated.flatten)
    assert(t.runs.flatten.forall(_._2 > 0) && t.failures.isEmpty)
  }

  /** One n = 2 run with the sf1 pass on: a table-reading gate and a
    * throwing one per data directory, plus one evidence entry. Yields the
    * parsed record, the failures, the scratch directory and the sf1 dir. */
  private lazy val (record, failures, scratch, sf1Dir) = {
    val dirs = ArrayBuffer.empty[String]
    var seen: Option[Path] = None
    val gates = (dir: String) => {
      dirs += dir
      Seq(Entry("q_orders", () => { graft.sources.Tables.table(spark, dir, "orders").count(); JObject() }), boom)
    }
    val (r, f) = Bench.run(spark, SfDir, 2, sf1 = true, gates,
      s => { seen = Some(s); Seq(writer(s)) })
    (parse(compact(render(r))), f, seen.get, dirs.last)
  }

  test("the record parses with json4s and carries the keys compare_bench.py reads") {
    def names(v: JValue): Set[String] = v match {
      case JObject(fs) => fs.map(_._1).toSet
      case other => fail(s"not an object: $other")
    }
    assert(names(record \ "queries") == Set("q_orders", "q_boom", "ev_write"))
    assert(record \ "runs" == JInt(2))
    val JArray(detail) = record \ "runs_detail"
    assert(detail.size == 2 && detail.forall(names(_) == Set("q_orders", "q_boom", "ev_write")))
    val JObject(spread) = record \ "queries_spread"
    spread.foreach { case (_, JArray(List(JDouble(lo), JDouble(med), JDouble(hi)))) =>
      assert(lo <= med && med <= hi)
    case other => fail(s"bad spread $other") }
    assert(record \ "sf1_runs" == JInt(2))
    assert(names(record \ "sf1_medians") == Set("q_orders", "q_boom"))
    val JArray(calib) = record \ "drift" \ "calib_sec"
    assert(calib.size == 3 && calib.forall { case JDouble(s) => s > 0; case _ => false })
    assert(record \ "failures" == JArray(List(JString("q_boom"))))
    assert(record \ "ev_write" \ "rows" == JInt(10))
  }

  test("the scratch directory is gone after a run, including one where an entry throws") {
    assert(failures == Seq("q_boom"))
    assert(sf1Dir.startsWith(scratch.toString))
    assert(!Files.exists(scratch), s"$scratch left behind")
    var seen: Option[Path] = None
    val (_, clean) = Bench.run(spark, SfDir, 1, sf1 = false, _ => Nil,
      s => { seen = Some(s); Seq(writer(s)) })
    assert(clean.isEmpty && seen.nonEmpty && !Files.exists(seen.get))
  }
}
