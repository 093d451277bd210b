package graft.sql

import org.apache.spark.sql.{Column, GraftShims, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.{STCoversWkt, SqlFunctions}

/**
 * Public Column API + SQL registration for the graft spatial functions.
 *
 * Distance functions are COMPOSED from built-in codegen'd functions rather
 * than custom expressions — Catalyst already generates optimal code for
 * sqrt/±/×. Parity note: `st_distance_euclidean` is planar Euclidean in
 * DEGREES, matching the reference (src/main/java/tech/stackable/gis/hbase/
 * model/DistanceComparator.java:20-27 uses java.awt.geom.Point2D.distance).
 */
object functions {
  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftShims.column(e)
  private def e(col: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    GraftShims.expression(col)

  /** Base32 geohash of (lat, lon) at `precision` chars (reference rowkey: 12). */
  def geohash_encode(lat: Column, lon: Column, precision: Int): Column =
    SqlFunctions.geohashEncode(lat, lon, F.lit(precision))

  /** Cell-center struct(lat, lon) of a geohash. */
  def geohash_decode(gh: Column): Column = SqlFunctions.geohashDecode(gh)

  /** Up-to-8 adjacent cells of a geohash. */
  def geohash_neighbors(gh: Column): Column = SqlFunctions.geohashNeighbors(gh)

  /** Boundary-inclusive point-in-polygon (JTS `covers` semantics). */
  def st_covers(wktPolygon: String, lon: Column, lat: Column): Column =
    c(STCoversWkt(e(F.lit(wktPolygon)), e(lon), e(lat)))

  /** Planar Euclidean distance in coordinate units (reference parity). */
  def st_distance_euclidean(x1: Column, y1: Column, x2: Column, y2: Column): Column = {
    val dx = x2 - x1
    val dy = y2 - y1
    F.sqrt(dx * dx + dy * dy)
  }

  /** Register SQL names (geohash_encode, st_covers_wkt, ...) on a session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    org.apache.spark.sql.graft.GraftExtensions.functions.foreach {
      case (name, builder) =>
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    val rule = org.apache.spark.sql.graft.SpatialPruningRule
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
  }
}
