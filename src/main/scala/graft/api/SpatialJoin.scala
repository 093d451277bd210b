package graft.api

import graft.sql.functions.st_distance_euclidean
import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlFunctions

/**
 * Spatial distance join: all pairs (a, b) with planar Euclidean distance
 * ≤ radius (degrees). The reference only has the degenerate one-point case
 * (KNNQuery: one query point vs. the table); this is the distributed
 * generalization SURVEY §2.5 maps out: geohash-cell equi-join with
 * neighbor-cell expansion, then exact distance refinement.
 *
 * Plan shape: build side B is keyed by its cell (1 row each); probe side A
 * explodes to its cell + 8 neighbors (9 rows each); one shuffle on the cell
 * key (or a broadcast when B is small — Catalyst/AQE decides), then the
 * distance predicate refines inside the join stage. Cell precision is the
 * finest whose cell dimensions still cover `radius`, so no qualifying pair
 * can escape the 9-cell neighborhood.
 */
object SpatialJoin {
  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftShims.column(e)
  private def e(col: Column) = GraftShims.expression(col)

  /** Finest geohash precision whose cell width AND height are ≥ `radius`
    * degrees (so radius-neighbors always sit in adjacent cells). */
  def precisionFor(radius: Double): Int = {
    require(radius > 0, s"radius must be positive: $radius")
    var best = 1
    var p = 1
    while (p <= 12) {
      val lonBits = (5 * p + 1) / 2
      val latBits = 5 * p / 2
      val cellW = 360.0 / math.pow(2, lonBits)
      val cellH = 180.0 / math.pow(2, latBits)
      if (math.min(cellW, cellH) >= radius) { best = p; p += 1 }
      else p = 13
    }
    best
  }

  /**
   * All pairs within `radius` (Euclidean degrees). Column name collisions
   * are avoided by prefixing ("a_" and "b_").
   */
  def distanceJoin(a: DataFrame, b: DataFrame, radius: Double,
                   lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    val p = precisionFor(radius)
    val aPref = a.columns.map(n => col(n).as(s"a_$n")).toSeq
    val bPref = b.columns.map(n => col(n).as(s"b_$n")).toSeq
    val probe = a.select(aPref: _*)
      .withColumn("__cell", explode(
        SqlFunctions.geohashCellNeighbors(col(s"a_$latCol"), col(s"a_$lonCol"), lit(p))))
    val build = b.select(bPref: _*)
      .withColumn("__cell",
        SqlFunctions.geohashEncode(col(s"b_$latCol"), col(s"b_$lonCol"), lit(p)))
    val d2 = (col(s"a_$lonCol") - col(s"b_$lonCol")) * (col(s"a_$lonCol") - col(s"b_$lonCol")) +
      (col(s"a_$latCol") - col(s"b_$latCol")) * (col(s"a_$latCol") - col(s"b_$latCol"))
    probe.join(build, "__cell")
      .filter(d2 <= radius * radius)
      .drop("__cell")
  }

  /**
   * KNN join: for each row of A, its k nearest rows of B by Euclidean
   * degrees, searched within `radius`-bounded candidate cells (rows of A
   * with fewer than k B-neighbors inside `radius` return what exists —
   * widen the radius for exhaustive semantics).
   */
  def knnJoin(a: DataFrame, b: DataFrame, k: Int, radius: Double,
              aKeyCol: String, lonCol: String = "lon", latCol: String = "lat",
              tieBreak: Seq[String] = Nil): DataFrame = {
    val joined = distanceJoin(a, b, radius, lonCol, latCol)
      .withColumn("distance", st_distance_euclidean(
        col(s"a_$lonCol"), col(s"a_$latCol"), col(s"b_$lonCol"), col(s"b_$latCol")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(s"a_$aKeyCol"))
      .orderBy(col("distance").asc +: tieBreak.map(col(_).asc): _*)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /**
   * KNN join via the bounded-heap [[org.apache.spark.sql.graft.TopNByOrd]]
   * aggregate instead of a window rank: per-partition partial heaps keep at
   * most k candidates per A-row BEFORE the shuffle, so only k rows per
   * (map task × A-row) move — the window variant shuffles and sorts the
   * whole radius-bounded pair stream. Distance rides the long-typed heap as
   * order-preserving IEEE 754 bits (distances are non-negative); ties break
   * on `bIdCol` ascending, making the result deterministic and identical to
   * [[knnJoin]] with `tieBreak = Seq("b_" + bIdCol)` — for non-null ids:
   * B-rows with a null `bIdCol` are excluded here (the heap needs the id),
   * where the window variant would rank them.
   *
   * Returns (a_<aKeyCol>, b_<bIdCol>, distance); join back to B on the id
   * for further payload columns.
   */
  def knnJoinAgg(a: DataFrame, b: DataFrame, k: Int, radius: Double,
                 aKeyCol: String, bIdCol: String,
                 lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    import org.apache.spark.sql.graft.TopNByOrd
    val joined = distanceJoin(a, b.filter(col(bIdCol).isNotNull), radius, lonCol, latCol)
      .withColumn("distance", st_distance_euclidean(
        col(s"a_$lonCol"), col(s"a_$latCol"), col(s"b_$lonCol"), col(s"b_$latCol")))
    val agg = c(TopNByOrd(
      SqlFunctions.doubleSortableBits.expr(e(col("distance"))),
      e(col(s"b_$bIdCol")), k).toAggregateExpression())
    joined.groupBy(col(s"a_$aKeyCol"))
      .agg(agg.as("__topn"))
      .select(col(s"a_$aKeyCol"), explode(col("__topn")).as("__p"))
      .select(col(s"a_$aKeyCol"),
        col("__p.id").as(s"b_$bIdCol"),
        SqlFunctions.sortableBitsToDouble(col("__p.ord")).as("distance"))
  }
}
