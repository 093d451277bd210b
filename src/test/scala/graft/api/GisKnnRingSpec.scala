package graft.api

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.{SparkTestBase, TempDirs}
import graft.geo.{Geom, GeohashPruning}
import graft.sql.functions.geohash_encode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/**
 * The exact search of `Gis.knn` on stored parquet layouts, differential
 * against a brute-force sort of the same table: seeded uniform background
 * plus four tight clusters, and small layouts for the edge cases (poles and
 * the antimeridian, null and NaN coordinates, ties at the k-th distance, the
 * distributed fallback, a layout rewritten in place). No reference fixtures.
 */
class GisKnnRingSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestBase.spark
  import spark.implicits._

  // cluster centres, away from the 3-char directory edges
  // (lon -75.9375 / -74.53125 / -73.125, lat 40.78125 / 42.1875)
  private val Clusters = Seq((-75.3, 40.5), (-74.2, 41.9), (-73.5, 41.0), (-72.6, 42.5))

  private lazy val root = tempDir("graft_knn_rings")

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

  private def brute(lon: Double, lat: Double, k: Int): Seq[Double] =
    coords.map { case (x, y) => Geom.euclidean(x, y, lon, lat) }.sorted.take(k).toSeq

  /** Brute force over any table: null coordinates skipped, NaN last. */
  private def bruteOf(df: DataFrame, lon: Double, lat: Double, k: Int): Seq[Double] =
    df.select("lon", "lat").as[(Option[Double], Option[Double])].collect().toSeq
      .collect { case (Some(x), Some(y)) => Geom.euclidean(x, y, lon, lat) }
      .sorted(Ordering.Double.TotalOrdering).take(k)

  private def distances(df: DataFrame): Seq[Double] =
    df.select("distance").as[Double].collect().toSeq

  /** Equal distance lists, NaN equal to NaN. */
  private def same(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => java.lang.Double.compare(x, y) == 0 }

  /** A layout of `df`'s rows written at `name` under the suite's directory. */
  private def layout(df: DataFrame, name: String, numFiles: Int = 8): DataFrame = {
    val out = root.resolve(name).toString
    Gis.writePointsPartitioned(df, out, prefixLen = 2, numFiles = numFiles)
    spark.read.parquet(out)
  }

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

  test("knn on a stored layout proves from fewer row groups, with no Spark scan") {
    for (((lon, lat), name) <- Seq(Dense -> "dense", Sparse -> "sparse")) {
      var record: Option[RowGroups.Record] = None
      val scans = GisKnnRingSpec.fileScans(spark) {
        val (df, rec) = Gis.knnSearch(points, lon, lat, 10)
        assert(distances(df) == brute(lon, lat, 10), name)
        record = Some(rec)
      }
      assert(scans.isEmpty, s"$name: the search ran a Spark scan:\n${scans.mkString("\n")}")
      val rec = record.get
      assert(rec.proved, s"$name: $rec")
      assert(rec.rowGroupsRead < rec.rowGroups && rec.rowsRead < coords.length, s"$name: $rec")
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
    // a non-finite origin has no exact answer, on a stored layout or not
    for (df <- Seq(points, points.withColumn("x", lit(1)));
         (lon, lat, bad) <- Seq((Double.NaN, 40.5, "NaN"), (-74.0, Double.PositiveInfinity, "Infinity"))) {
      val o = intercept[IllegalArgumentException](Gis.knn(df, lon, lat, 3))
      assert(o.getMessage.contains(bad), o.getMessage)
    }
  }

  test("knn at the poles and across the antimeridian equals brute force") {
    val edges = Seq((179.995, 5.0), (-179.995, -5.0), (20.0, 89.995), (-20.0, -89.995))
      .zipWithIndex.map { case ((x, y), i) =>
        Gis.bulkIngest(spark, 300, x - 0.005, x + 0.005, y - 0.005, y + 0.005, seed = 40 + i)
      }
    val world = layout(edges.foldLeft(
      Gis.bulkIngest(spark, 4000, -180.0, 180.0, -90.0, 90.0, seed = 31))(_ unionByName _), "world")
    for ((lon, lat) <- Seq((179.99, 5.0), (-179.99, -5.0), (179.99, -5.0), (-179.99, 5.0),
        (20.0, 89.99), (-20.0, -89.99), (20.0, -89.99), (179.99, 89.99))) {
      val (df, rec) = Gis.knnSearch(world, lon, lat, 10)
      assert(distances(df) == bruteOf(world, lon, lat, 10), (lon, lat))
      assert(rec.proved, s"${(lon, lat)}: $rec")
    }
  }

  test("knn on a layout with null and NaN coordinates equals brute force, NaN last") {
    val out = root.resolve("nan").toString
    // three files; a NaN opens one of them, so its row group can have NaN statistics
    Seq(
      Seq[(Option[Double], Option[Double], String)]((Some(Double.NaN), Some(10.0), "nan-first"),
        (Some(10.0), Some(10.0), "a"), (None, Some(10.0), "null-lon"), (Some(10.2), Some(10.1), "b")),
      Seq[(Option[Double], Option[Double], String)]((Some(11.0), Some(11.0), "c"),
        (Some(11.0), None, "null-lat"), (Some(11.5), Some(Double.NaN), "nan-lat"),
        (Some(12.0), Some(11.0), "d")),
      Seq[(Option[Double], Option[Double], String)]((None, None, "null-both"),
        (Some(30.0), Some(30.0), "far"), (Some(Double.NaN), Some(Double.NaN), "nan-both"))
    ).foreach(rows => rows.toDF("lon", "lat", "id").coalesce(1).write.mode("append").parquet(out))
    val pts = spark.read.parquet(out)
    for ((lon, lat) <- Seq((10.0, 10.0), (50.0, 50.0)); k <- Seq(1, 3, 5, 8, 20, Int.MaxValue)) {
      val (df, rec) = Gis.knnSearch(pts, lon, lat, k)
      assert(rec.proved && rec.rowGroups == 3, s"${(lon, lat, k)}: $rec")
      val expected = bruteOf(pts, lon, lat, k)
      assert(same(distances(df), expected), (lon, lat, k, distances(df), expected))
      assert(same(distances(Gis.knnSearch(pts, lon, lat, k, rowBudget = 0)._1), expected),
        s"distributed ${(lon, lat, k)}")
    }
    assert(Gis.knn(pts, 10.0, 10.0, 20).select("id").as[String].collect().toSet ==
      Set("nan-first", "a", "b", "c", "nan-lat", "d", "far", "nan-both"))
  }

  test("knn with duplicate points tying at the k-th distance equals brute force") {
    val (x, y) = (-74.0, 41.0)
    val ties = Seq(x + 0.01 -> y, x - 0.01 -> y, x -> (y + 0.01), x -> (y - 0.01))
      .flatMap(p => Seq.fill(12)(p)).toDF("lon", "lat")
      .withColumn("id", monotonically_increasing_id().cast("string"))
      .withColumn("geohash", geohash_encode(col("lat"), col("lon"), 12))
    val background = Gis.bulkIngest(spark, 3000, -75.0, -73.0, 40.0, 42.0, seed = 51)
      .select("lon", "lat", "id", "geohash")
    val pts = layout(background.unionByName(ties), "ties")
    for (k <- Seq(1, 10, 30, 60)) {
      val (df, rec) = Gis.knnSearch(pts, x, y, k)
      assert(distances(df) == bruteOf(pts, x, y, k), s"k = $k")
      assert(rec.proved, s"k = $k: $rec")
    }
  }

  test("knn with the row budget at 0 runs the distributed top-k and equals brute force") {
    for ((lon, lat) <- Seq(Dense, Sparse, Outside)) {
      val (df, rec) = Gis.knnSearch(points, lon, lat, 10, rowBudget = 0)
      assert(!rec.proved && rec.rowGroupsRead == 0 && rec.rowsRead == 0 && rec.rowGroups > 0, rec)
      assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
      assert(distances(df) == brute(lon, lat, 10), (lon, lat))
      assert(df.schema == Gis.knnSearch(points, lon, lat, 10)._1.schema)
    }
  }

  test("knn follows a layout overwritten at the same path once it is read again") {
    val at = root.resolve("rewritten").toString
    def write(seed: Long): DataFrame = {
      Gis.writePointsPartitioned(Gis.bulkIngest(spark, 3000, -75.0, -73.0, 40.0, 42.0, seed = seed),
        at, prefixLen = 2, numFiles = 4)
      spark.read.parquet(at)
    }
    val (lon, lat) = (-74.0, 41.0)
    val first = write(61)
    val before = bruteOf(first, lon, lat, 10)
    assert(distances(Gis.knn(first, lon, lat, 10)) == before)
    val second = write(62)
    val expected = bruteOf(second, lon, lat, 10)
    assert(expected != before)
    assert(distances(Gis.knn(second, lon, lat, 10)) == expected)
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
