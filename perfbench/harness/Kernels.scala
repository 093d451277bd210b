package perfbench

import graft.geo.{Geom, GeohashPruning}
import graft.sql.{functions => G}
import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopNByOrd

/**
 * Layer probes that run beside a traced workload: each SQL kernel alone over
 * a generated column into a `noop` sink, and the geohash prefix cover on the
 * seeded polygons. A kernel's figure is its time per row above the same
 * pipeline without it.
 */
object Kernels {
  val Rows = 2000000L
  val Reps = 5

  private def noopMs(df: DataFrame): Double =
    Stats.timeMs(df.write.format("noop").mode("overwrite").save())._2

  /** Median ns per row of `kernel` above `baseline`, alternating the two. */
  private def nsPerRow(baseline: DataFrame, kernel: DataFrame): Double = {
    noopMs(baseline); noopMs(kernel)
    val pairs = (0 until Reps).map(_ => (noopMs(baseline), noopMs(kernel)))
    (Stats.median(pairs.map(_._2)) - Stats.median(pairs.map(_._1))) * 1e6 / Rows
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    def unif(i: Int): Column =
      shiftrightunsigned(xxhash64(lit(i), col("id"), lit(ctx.seed)), 11).cast("double") /
        lit((1L << 53).toDouble)
    def coords(x0: Double, x1: Double, y0: Double, y1: Double): DataFrame =
      spark.range(0, Rows, 1, ctx.cores).select(col("id"),
        (lit(x0) + unif(0) * (x1 - x0)).as("lon"), (lit(y0) + unif(1) * (y1 - y0)).as("lat"))
    val polys = Polygons.generate(ctx.seed)
    val covers = Polygons.Classes.map(_._1).map { cls =>
      val p = polys.find(q => q.sizeClass == cls && q.shape == "concave").get
      val (x0, x1, y0, y1) = Geom.parseWkt(p.wkt).bbox
      val (w, h) = (x1 - x0, y1 - y0)
      val base = coords(x0 - w / 2, x1 + w / 2, y0 - h / 2, y1 + h / 2)
      s"sql.st_covers_ns_per_row.$cls" ->
        nsPerRow(base.select(col("lon"), col("lat")),
          base.select(col("lon"), col("lat"), G.st_covers(p.wkt, col("lon"), col("lat")).as("k")))
    }
    val base = coords(PointCloud.LonMin, PointCloud.LonMax, PointCloud.LatMin, PointCloud.LatMax)
    val plain = base.select(col("lon"), col("lat"))
    // the distance is a few ns, below the noise of one column: time it to
    // eight origins and report one eighth
    val origins = (0 until 8).map(i => G.st_distance_euclidean(col("lon"), col("lat"),
      lit(-75.5 + 0.4 * i), lit(40.0 + 0.3 * i)).as(s"k$i"))
    val distance = "sql.distance_ns_per_row" ->
      nsPerRow(plain, base.select(col("lon") +: col("lat") +: origins: _*)) / origins.size
    val encode = "sql.geohash_encode_ns_per_row" -> nsPerRow(plain,
      base.select(col("lon"), col("lat"), G.geohash_encode(col("lat"), col("lon"), 12).as("k")))
    val ord = base.select(pmod(col("id"), lit(4096L)).as("g"),
      (unif(2) * 1e12).cast("long").as("ord"), col("id"))
    val topn = GraftShims.column(TopNByOrd(GraftShims.expression(col("ord")),
      GraftShims.expression(col("id")), 10).toAggregateExpression())
    val topN = "sql.topn_by_ord_ns_per_row" -> nsPerRow(
      ord.groupBy("g").agg(max("ord").as("k")), ord.groupBy("g").agg(topn.as("k")))
    (covers :+ distance :+ encode :+ topN).toMap ++ prefixCover(polys)
  }

  /** Time of `GeohashPruning.minimumBoundingPrefixes` per polygon (median of
    * repeats, then the mean over polygons), prefixes per query, and the share
    * of polygons that get no cover and fall back to a bbox-only scan. */
  def prefixCover(polys: Seq[Polygons.Poly]): Map[String, Double] = {
    val geoms = polys.map(p => Geom.parseWkt(p.wkt))
    val covers = geoms.map(g => GeohashPruning.minimumBoundingPrefixes(g))
    val us = geoms.map { g =>
      (0 until 5).foreach(_ => GeohashPruning.minimumBoundingPrefixes(g))
      Stats.median((0 until 25).map(_ => Stats.timeMs(GeohashPruning.minimumBoundingPrefixes(g))._2 * 1e3))
    }
    Map(
      "geo.prefix_cover_us" -> Stats.mean(us),
      "geo.prefixes_per_query" -> Stats.mean(covers.map(_.map(_.size.toDouble).getOrElse(0.0))),
      "geo.cover_fallback_ratio" -> covers.count(_.isEmpty).toDouble / covers.size)
  }
}
