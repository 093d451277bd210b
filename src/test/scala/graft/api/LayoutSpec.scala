package graft.api

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: interleave correctness, range guard, and the actual
  * row-group-skipping payoff measured from scan metrics. */
class LayoutSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def bruteMorton(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 32) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zorder2 == bit-loop Morton replica incl. 32-bit extremes") {
    val rnd = new scala.util.Random(31)
    val vals = (0 until 500).map(_ =>
      (rnd.nextLong().abs % 4294967296L, rnd.nextLong().abs % 4294967296L)) ++
      Seq((0L, 0L), (4294967295L, 0L), (0L, 4294967295L),
        (4294967295L, 4294967295L))
    val got = vals.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zorder2(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    vals.foreach { case (a, b) =>
      assert(got((a, b)) == bruteMorton(a, b), s"($a, $b)")
    }
  }

  test("zorder2 range guard faults on out-of-range and null inputs") {
    def run(a: java.lang.Long, b: java.lang.Long) =
      Seq((Option(a).map(Long2long), Option(b).map(Long2long))).toDF("a", "b")
        .select(Layout.zorder2(col("a"), col("b"))).collect()
    intercept[Exception](run(-1L, 0L))
    intercept[Exception](run(0L, 4294967296L))
    intercept[Exception](run(null, 3L))
  }

  test("z-ordered layout scans fewer rows than a shuffled layout for a 2-D range query") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300000).map(i =>
      (i.toLong, rnd.nextInt(4096).toLong, rnd.nextInt(4096).toLong))
    val df = rows.toDF("id", "x", "y")
    val zPath = tempDir("graft-zord").toString
    val fPath = tempDir("graft-flat").toString
    Layout.writeZOrdered(df, zPath, "x", "y")
    // adversarial baseline: rows shuffled by id hash (no useful stats)
    df.repartition(32, hash(col("id"))).write.mode("overwrite").parquet(fPath)
    def scannedRows(path: String): (Long, Long) = {
      val q = spark.read.parquet(path)
        .filter(col("x").between(1000, 1063) && col("y").between(2000, 2063))
      // execute THIS QueryExecution (count() builds a fresh one and its
      // metrics read zero)
      val n = q.queryExecution.toRdd.count()
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scanned = plan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.get
      (n, scanned)
    }
    val (nZ, scannedZ) = scannedRows(zPath)
    val (nF, scannedF) = scannedRows(fPath)
    assert(nZ == nF && nZ > 0, s"layouts changed results: $nZ vs $nF")
    // the whole point: row-group min/max stats on BOTH x and y prune the
    // z-clustered scan; the shuffled layout reads essentially everything
    assert(scannedZ * 2 < scannedF,
      s"z-order scanned $scannedZ rows vs shuffled $scannedF — no pruning win")
  }
}
