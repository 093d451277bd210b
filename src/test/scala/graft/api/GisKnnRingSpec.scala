package graft.api

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.geo.{Geom, GeohashPruning}
import graft.sql.functions.geohash_encode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * The exact ring search of `Gis.knn` on a stored `gh_prefix` layout,
 * differential against a brute-force sort of the same table: seeded uniform
 * background plus four tight clusters, no reference fixtures.
 */
class GisKnnRingSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  import spark.implicits._

  // cluster centres, away from the 3-char directory edges
  // (lon -75.9375 / -74.53125 / -73.125, lat 40.78125 / 42.1875)
  private val Clusters = Seq((-75.3, 40.5), (-74.2, 41.9), (-73.5, 41.0), (-72.6, 42.5))

  private val root = java.nio.file.Files.createTempDirectory("graft_knn_rings")
  override def afterAll(): Unit = org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)

  private lazy val dir: String = {
    val uniform = Gis.bulkIngest(spark, 20000, -76.0, -72.0, 40.0, 43.0, seed = 11)
    val clustered = Clusters.zipWithIndex.map { case ((x, y), i) =>
      Gis.bulkIngest(spark, 1000, x - 0.02, x + 0.02, y - 0.02, y + 0.02, seed = 20 + i)
        .withColumn("id", concat(lit(s"c$i-"), col("id")))
    }
    val out = root.resolve("layout").toString
    Gis.writePointsPartitioned(clustered.foldLeft(uniform)(_ unionByName _), out,
      prefixLen = 3, numFiles = 8)
    out
  }
  private lazy val points: DataFrame = spark.read.parquet(dir)
  private lazy val coords: Array[(Double, Double)] =
    points.select("lon", "lat").as[(Double, Double)].collect()
  private lazy val totalDirs: Int =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("gh_prefix="))

  private def brute(lon: Double, lat: Double, k: Int): Seq[Double] =
    coords.map { case (x, y) => Geom.euclidean(x, y, lon, lat) }.sorted.take(k).toSeq

  private def distances(df: DataFrame): Seq[Double] =
    df.select("distance").as[Double].collect().toSeq

  private val Dense = (-74.2 + 0.003, 41.9 - 0.002)
  private val Sparse = (-75.2, 42.6)
  private val DirEdge = (-74.53125 + 0.0005, 41.5)
  private val Outside = (-70.0, 38.0)

  test("knn rings equal brute force on a stored layout: dense, sparse, directory edge, outside") {
    for (((lon, lat), name) <- Seq(Dense -> "dense", Sparse -> "sparse",
        DirEdge -> "directory edge", Outside -> "outside the data")) {
      assert(distances(Gis.knn(points, lon, lat, 10)) == brute(lon, lat, 10), name)
    }
  }

  test("knn with k larger than the table returns the whole table, brute-force ordered") {
    val n = coords.length
    val got = distances(Gis.knn(points, Dense._1, Dense._2, n + 5))
    assert(got.size == n)
    assert(got == brute(Dense._1, Dense._2, n))
  }

  test("knn strict mode still returns only 9-cell candidates at precision") {
    for ((lon, lat) <- Seq(Dense, Sparse, DirEdge)) {
      val prefixes = GeohashPruning.knnPrefixes(lon, lat, 7)
      val hashes = Gis.knn(points, lon, lat, 10, strict = true)
        .select("geohash").as[String].collect()
      assert(hashes.forall(h => prefixes.exists(h.startsWith)), (lon, lat))
    }
  }

  test("knn rings on a stored layout prune gh_prefix directories in every scan") {
    points.columns // list the layout before any scan is recorded
    for (((lon, lat), name) <- Seq(Dense -> "dense", Sparse -> "sparse")) {
      val scans = GisKnnRingSpec.fileScans(spark) {
        Gis.knn(points, lon, lat, 10).collect()
      }
      assert(scans.nonEmpty, name)
      scans.foreach { s =>
        assert(s.partitionFilters.nonEmpty, s"$name: scan without partition filters:\n$s")
        assert(s.selectedPartitions.partitionCount < totalDirs,
          s"$name: read all $totalDirs directories")
      }
    }
  }

  test("knn with k = 0 is empty with the result schema; k < 0 names k") {
    val two = Seq((10.0, 10.0, "a"), (10.001, 10.001, "b")).toDF("lon", "lat", "id")
      .withColumn("geohash", geohash_encode(col("lat"), col("lon"), 12))
    val none = Gis.knn(two, 10.0, 10.0, 0)
    assert(none.collect().isEmpty)
    assert(none.columns.toSeq == two.columns.toSeq :+ "distance")
    val e = intercept[IllegalArgumentException](Gis.knn(two, 10.0, 10.0, -1))
    assert(e.getMessage.contains("k"), e.getMessage)
  }

  test("knn margin refuses blocks cut by a pole or wrapped across the antimeridian") {
    val at = (lon: Double, lat: Double) =>
      GeohashPruning.knnMargin(lon, lat, GeohashPruning.knnPrefixes(lon, lat, 7))
    assert(at(Dense._1, Dense._2).exists(_ > 0))
    assert(at(179.9999, 0.0).isEmpty)
    assert(at(0.0, 89.9999).isEmpty)
  }

  test("cli reads a layout directory as parquet") {
    val df = graft.cli.Main.loadPoints(spark, dir)
    assert(df.columns.contains("gh_prefix") && df.count() == coords.length)
  }
}

object GisKnnRingSpec {
  /** The file scans of every query execution `body` runs. Query listeners
    * are called in order on the listener bus, so a marker query before and
    * one after `body` delimit its callbacks. */
  def fileScans(spark: SparkSession)(body: => Unit): Seq[FileSourceScanExec] = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val (start, end) = (s"__scan_start_$tag", s"__scan_end_$tag")
    val scans = new ConcurrentLinkedQueue[FileSourceScanExec]()
    val started = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val names = qe.analyzed.output.map(_.name)
        if (names.contains(start)) started.countDown()
        else if (names.contains(end)) done.countDown()
        else if (started.getCount == 0 && done.getCount == 1)
          nodes(qe.executedPlan).foreach {
            case s: FileSourceScanExec => scans.add(s)
            case _ =>
          }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF(start).collect()
      assert(started.await(60, TimeUnit.SECONDS), "query listener never saw the start marker")
      body
      spark.range(1).toDF(end).collect()
      assert(done.await(60, TimeUnit.SECONDS), "query listener never saw the end marker")
    } finally spark.listenerManager.unregister(listener)
    scans.asScala.toSeq
  }

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case o => Iterator.single(o) ++ o.children.iterator.flatMap(nodes)
  }
}
