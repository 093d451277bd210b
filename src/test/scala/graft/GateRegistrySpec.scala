package graft

import graft.gates.{Fixtures, Gate}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The gate registry's invariants: every gate carries its own oracle, names
  * are unique, the name-keyed views agree, and the oracle JSON the DuckDB
  * compare reads decodes back to exactly the registry's SQL. */
class GateRegistrySpec extends AnyFunSuite {

  test("218 uniquely named gates; queries and oracleSql cover the same names") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 218)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every oracle is non-empty SQL") {
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"empty oracles: $empty")
  }

  test("twin gates share their target's oracle verbatim") {
    val twins = Seq(
      "q_join_asof_salted" -> "q_join_asof",
      "q_sessionize_salted" -> "q_sessionize",
      "q_dedup_clusters_incr" -> "q_dedup_clusters",
      "q_dedup_keeplist_incr" -> "q_dedup_keeplist",
      "q_dedup_labels" -> "q_dedup_clusters")
    for ((twin, target) <- twins)
      assert(SparkEntry.oracleSql(twin) == SparkEntry.oracleSql(target), twin)
  }

  test("a repeated gate name is refused") {
    val g = SparkEntry.gates.head
    val e = intercept[IllegalArgumentException](Gate.registry(Seq(g), Seq(g.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains(g.name))
  }

  test("oracle JSON parses back to exactly the registry's oracle SQL") {
    def decode(json: String): Map[String, String] =
      parse(json) match {
        case JObject(fields) => fields.map { case (k, JString(v)) => k -> v }.toMap
        case other => fail(s"not a JSON object: $other")
      }
    assert(decode(Verify.oracleJson(SparkEntry.oracleSql)) == SparkEntry.oracleSql)
    // control characters and quotes survive the hand-written escaper
    val tricky = Map("q\"x" -> "SELECT '\t' || chr(1) -- \u0001\r\n\\")
    assert(decode(Verify.oracleJson(tricky)) == tricky)
  }

  test("gate scratch paths are fresh per call, and Session.release deletes them") {
    val spark = SparkTestBase.spark
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries = Option(tmp.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("graft_")).toSet
    val before = graftEntries
    // the same gate asks twice, as two runs over one sf directory would
    val a = Fixtures.scratch("ivfpq")
    val b = Fixtures.scratch("ivfpq")
    assert(a != b)
    val root = java.nio.file.Paths.get(a).getParent
    assert(root.getParent.toFile == tmp && root.getFileName.toString.startsWith("graft_scratch_"))
    // a gate writes its index there and reads it back
    spark.range(10).write.parquet(a)
    assert(spark.read.parquet(a).count() == 10L)
    Session.release(spark)
    assert(!root.toFile.exists())
    assert(graftEntries.diff(before).isEmpty)
    // the next path lies under a new root
    assert(!java.nio.file.Paths.get(Fixtures.scratch("ivfpq")).startsWith(root))
    Session.release(spark)
    assert(!graftEntries.exists(_.startsWith("graft_scratch_")))
  }
}
