package graft.api

import scala.jdk.CollectionConverters._

import graft.{SparkTestBase, TempDirs}
import graft.sql.functions.geohash_encode
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.DoubleStatistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * `Gis.within` on stored parquet layouts, answered on the driver from the
 * row groups its statistics select, differential against the forced
 * distributed plan (a zero row budget) and the unpruned scan
 * (`prune = false`): seeded uniform background plus four tight clusters,
 * with planted rows on edges, vertices, hole boundaries and a line, and
 * rows with null and NaN coordinates. No reference fixtures.
 */
class GisWithinRowGroupSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestBase.spark
  import spark.implicits._

  private val Clusters = Seq((-75.3, 40.5), (-74.2, 41.9), (-73.5, 41.0), (-72.6, 42.5))

  private val Rect = "POLYGON ((-74.5 41.2, -74.3 41.2, -74.3 41.4, -74.5 41.4, -74.5 41.2))"
  // a notch cut into the top edge, vertex at (-73.7, 41.8)
  private val Concave =
    "POLYGON ((-73.9 41.6, -73.5 41.6, -73.5 42.0, -73.7 41.8, -73.9 42.0, -73.9 41.6))"
  private val Holed = "POLYGON ((-75.8 40.2, -75.2 40.2, -75.2 40.8, -75.8 40.8, -75.8 40.2), " +
    "(-75.6 40.4, -75.4 40.4, -75.4 40.6, -75.6 40.6, -75.6 40.4))"
  // two parts on two clusters three directories apart
  private val Multi = "MULTIPOLYGON (((-74.25 41.85, -74.15 41.85, -74.15 41.95, -74.25 41.95, " +
    "-74.25 41.85)), ((-72.65 42.45, -72.55 42.45, -72.55 42.55, -72.65 42.55, -72.65 42.45)))"
  private val OnPoint = "POINT (-73.25 40.25)"
  private val Line = "LINESTRING (-73.4 40.9, -73.0 40.9)"
  private val Collection = s"GEOMETRYCOLLECTION ($Rect, $Line, $OnPoint)"
  private val Outside = "POLYGON ((-70 38, -69 38, -69 39, -70 39, -70 38))"
  // crosses the 3-char directory edges at lon -74.53125 and lat 42.1875
  private val Spanning = "POLYGON ((-75.0 41.5, -73.0 41.5, -73.0 42.5, -75.0 42.5, -75.0 41.5))"

  private val Shapes = Seq("rect" -> Rect, "concave" -> Concave, "holed" -> Holed,
    "multi" -> Multi, "point" -> OnPoint, "line" -> Line, "collection" -> Collection,
    "outside" -> Outside, "spanning" -> Spanning)

  /** Planted rows, each named for where it lies. */
  private val Planted = Seq[(Option[Double], Option[Double], String)](
    (Some(-74.5), Some(41.3), "rect-edge-w"), (Some(-74.4), Some(41.4), "rect-edge-n"),
    (Some(-74.3), Some(41.25), "rect-edge-e"), (Some(-74.45), Some(41.2), "rect-edge-s"),
    (Some(-74.5), Some(41.2), "rect-vertex-sw"), (Some(-74.3), Some(41.4), "rect-vertex-ne"),
    (Some(-74.50001), Some(41.3), "rect-out-w"),
    (Some(-73.7), Some(41.8), "concave-notch-vertex"), (Some(-73.7), Some(41.95), "concave-notch-out"),
    (Some(-73.9), Some(41.8), "concave-edge-w"),
    (Some(-75.6), Some(40.5), "hole-edge-w"), (Some(-75.5), Some(40.6), "hole-edge-n"),
    (Some(-75.4), Some(40.4), "hole-vertex-se"), (Some(-75.5), Some(40.5), "hole-inside"),
    (Some(-73.25), Some(40.25), "on-point"),
    (Some(-73.4), Some(40.9), "line-start"), (Some(-73.2), Some(40.9), "line-mid"),
    (Some(-73.0), Some(40.9), "line-end"), (Some(-73.2), Some(40.90001), "line-off"),
    (None, Some(41.3), "null-lon"), (Some(-74.4), None, "null-lat"), (None, None, "null-both"),
    (Some(Double.NaN), Some(41.3), "nan-lon"), (Some(-74.4), Some(Double.NaN), "nan-lat"),
    (Some(Double.NaN), Some(Double.NaN), "nan-both"))

  private lazy val root = tempDir("graft_within_groups")

  private def background(seed: Long): DataFrame = {
    val uniform = Gis.bulkIngest(spark, 20000, -76.0, -72.0, 40.0, 43.0, seed = seed)
    Clusters.zipWithIndex.map { case ((x, y), i) =>
      Gis.bulkIngest(spark, 1000, x - 0.02, x + 0.02, y - 0.02, y + 0.02, seed = seed + 10 + i)
        .withColumn("id", concat(lit(s"c$i-"), col("id")))
    }.foldLeft(uniform)(_ unionByName _).select("lon", "lat", "id", "geohash")
  }

  private lazy val rows: DataFrame = background(11).unionByName(
    Planted.toDF("lon", "lat", "id")
      .withColumn("geohash", geohash_encode(col("lat"), col("lon"), 12)))

  /** `df` written as a 3-char `gh_prefix` layout at `name`, read back. */
  private def layout(df: DataFrame, name: String): (DataFrame, String) = {
    val out = root.resolve(name).toString
    Gis.writePointsPartitioned(df, out, prefixLen = 3, numFiles = 8)
    (spark.read.parquet(out), out)
  }

  private lazy val (points, dir) = layout(rows, "layout")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  /** The driver answer of `wkt` over `pts`, checked against the forced
    * distributed plan and the unpruned scan; its rows and search record. */
  private def differential(pts: DataFrame, wkt: String,
                           name: String): (Seq[String], RowGroups.Record) = {
    val (df, rec) = Gis.withinSearch(pts, wkt)
    assert(rec.proved, s"$name: $rec")
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], name)
    val got = sorted(df)
    val forced = Gis.withinSearch(pts, wkt, rowBudget = 0)._1
    assert(df.schema == forced.schema && df.schema == pts.schema, name)
    assert(got == sorted(forced), s"$name: driver and distributed plans differ")
    assert(got == sorted(Gis.within(pts, wkt, prune = false)), s"$name: driver and unpruned differ")
    (got, rec)
  }

  private def ids(df: DataFrame, wkt: String): Set[String] =
    Gis.within(df, wkt).select("id").as[String].collect().toSet

  test("within on a stored layout equals the distributed and unpruned plans for every shape") {
    for ((name, wkt) <- Shapes) {
      val (got, _) = differential(points, wkt, name)
      assert(got.nonEmpty == (name != "outside"), s"$name: ${got.size} rows")
    }
  }

  test("within keeps points on edges, vertices and hole boundaries, and no null or NaN point") {
    val rect = ids(points, Rect)
    assert(Seq("rect-edge-w", "rect-edge-n", "rect-edge-e", "rect-edge-s", "rect-vertex-sw",
      "rect-vertex-ne").forall(rect), rect.filter(_.startsWith("rect")))
    assert(!rect("rect-out-w"))
    val concave = ids(points, Concave)
    assert(concave("concave-notch-vertex") && concave("concave-edge-w") &&
      !concave("concave-notch-out"))
    val holed = ids(points, Holed)
    assert(Seq("hole-edge-w", "hole-edge-n", "hole-vertex-se").forall(holed) && !holed("hole-inside"))
    assert(ids(points, OnPoint) == Set("on-point"))
    assert(ids(points, Line) == Set("line-start", "line-mid", "line-end"))
    val all = Shapes.map(_._2).flatMap(ids(points, _)).toSet
    assert(!all.exists(i => i.startsWith("null") || i.startsWith("nan")), all)
  }

  test("within reads fewer row groups than the layout, no more than the bbox selects") {
    for ((name, wkt) <- Seq("rect" -> Rect, "multi" -> Multi, "spanning" -> Spanning)) {
      val (_, rec) = differential(points, wkt, name)
      val bboxOnly = GisWithinRowGroupSpec.bboxGroups(spark, dir,
        graft.geo.Geom.parseWkt(wkt).bbox)
      assert(rec.rowGroupsRead < rec.rowGroups, s"$name: $rec")
      assert(rec.rowGroupsRead <= bboxOnly, s"$name: $rec, bbox alone selects $bboxOnly")
      // the two parts lie in two directories of the four their bbox meets
      if (name == "multi") assert(rec.rowGroupsRead < bboxOnly, s"$name: $rec vs $bboxOnly")
    }
    val (forced, rec) = Gis.withinSearch(points, Rect, rowBudget = 0)
    assert(!rec.proved && rec.rowGroupsRead == 0 && rec.rowsRead == 0 && rec.rowGroups > 0, rec)
    assert(!forced.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(Gis.withinSearch(points, Rect, prune = false)._2 == RowGroups.Record(0, 0, 0L, false))
  }

  test("within reads on the driver up to its row budget, and plans the distributed filter past it") {
    val (_, rec) = differential(points, Spanning, "spanning")
    val (at, atRec) = Gis.withinSearch(points, Spanning, rowBudget = rec.rowsRead)
    assert(atRec == rec && at.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], atRec)
    val (past, pastRec) = Gis.withinSearch(points, Spanning, rowBudget = rec.rowsRead - 1)
    assert(!pastRec.proved && pastRec.rowGroupsRead == 0, pastRec)
    assert(sorted(past) == sorted(at))
    assert(RowGroups.WithinRowBudget > 0 && RowGroups.WithinRowBudget < RowGroups.RowBudget)
  }

  test("within on a table without a geohash column prunes by bbox alone") {
    val out = root.resolve("no_geohash").toString
    rows.drop("geohash").repartitionByRange(4, col("lon")).sortWithinPartitions("lon")
      .write.mode("overwrite").parquet(out)
    val pts = spark.read.parquet(out)
    for ((name, wkt) <- Shapes) {
      val (got, _) = differential(pts, wkt, s"no geohash, $name")
      assert(got.nonEmpty == (name != "outside"), name)
    }
  }

  test("within follows the geohash column, also where it disagrees with the coordinates") {
    // a point inside Rect keyed far away: the prefix predicate drops it on
    // both paths, and the unpruned scan keeps it
    val wrong = Seq((-74.4, 41.3, "wrong-key", "zzzzzzzzzzzz")).toDF("lon", "lat", "id", "geohash")
    val (pts, _) = layout(background(13).unionByName(wrong), "inconsistent")
    val (df, rec) = Gis.withinSearch(pts, Rect)
    assert(rec.proved, rec)
    val got = sorted(df)
    assert(got == sorted(Gis.withinSearch(pts, Rect, rowBudget = 0)._1))
    assert(got.nonEmpty && !ids(pts, Rect)("wrong-key"))
    assert(Gis.within(pts, Rect, prune = false).filter(col("id") === "wrong-key").count() == 1)
  }

  test("within follows a layout overwritten at the same path once it is read again") {
    val at = root.resolve("rewritten").toString
    def write(seed: Long): DataFrame = {
      Gis.writePointsPartitioned(background(seed), at, prefixLen = 3, numFiles = 4)
      spark.read.parquet(at)
    }
    val first = differential(write(61), Spanning, "first")._1
    val second = differential(write(62), Spanning, "second")._1
    assert(first != second)
  }
}

object GisWithinRowGroupSpec {
  /** Row groups of the parquet files under `dir` whose `lon`/`lat` footer
    * statistics meet `bbox` (xMin, xMax, yMin, yMax), or that have none. */
  def bboxGroups(spark: SparkSession, dir: String,
                 bbox: (Double, Double, Double, Double)): Int = {
    val (xMin, xMax, yMin, yMax) = bbox
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val files = root.getFileSystem(conf).listFiles(root, true)
    val groups = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
      }
    groups.count { b =>
      def range(c: String): Option[(Double, Double)] =
        b.getColumns.asScala.find(_.getPath.toDotString == c).map(_.getStatistics).collect {
          case s: DoubleStatistics if s.hasNonNullValue => (s.getMin, s.getMax)
        }
      (range("lon"), range("lat")) match {
        case (Some((x0, x1)), Some((y0, y1))) => !(x1 < xMin || x0 > xMax || y1 < yMin || y0 > yMax)
        case _ => true
      }
    }
  }
}
