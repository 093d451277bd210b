package perfbench

import java.io.File
import java.util.SplittableRandom

import graft.api.Gis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.io.WKTReader

/** The seeded point cloud: dense Gaussian clusters over a sparse uniform
  * background, in a 4° × 3° box. */
object PointCloud {
  val LonMin = -76.0; val LonMax = -72.0
  val LatMin = 39.5; val LatMax = 42.5
  val Clusters = 16
  val DenseShare = 0.65
  val T0 = 1600000000000L
  val YearMs = 365L * 24 * 3600 * 1000

  final case class Cluster(lon: Double, lat: Double, sigma: Double)

  def clusters(seed: Long): IndexedSeq[Cluster] = {
    val r = new SplittableRandom(seed * 31 + 7)
    IndexedSeq.fill(Clusters)(Cluster(
      LonMin + 0.3 + r.nextDouble() * (LonMax - LonMin - 0.6),
      LatMin + 0.3 + r.nextDouble() * (LatMax - LatMin - 0.6),
      0.004 + r.nextDouble() * 0.016))
  }

  /** `n` points as (id, lon, lat, ts, name); every column is a function of
    * (id, seed), so the table is the same at any partitioning. */
  def points(spark: SparkSession, seed: Long, n: Long, partitions: Int): DataFrame = {
    val cs = clusters(seed)
    def unif(i: Int): Column =
      shiftrightunsigned(xxhash64(lit(i), col("id"), lit(seed)), 11).cast("double") /
        lit((1L << 53).toDouble)
    def pick(f: Cluster => Double): Column =
      element_at(array(cs.map(c => lit(f(c))): _*),
        (pmod(xxhash64(lit(99), col("id"), lit(seed)), lit(Clusters)) + 1).cast("int"))
    val radius = sqrt(lit(-2.0) * log(greatest(unif(2), lit(1e-300))))
    val angle = unif(3) * lit(2 * math.Pi)
    val dense = unif(0) < DenseShare
    def clip(c: Column, lo: Double, hi: Double) = greatest(lit(lo), least(lit(hi - 1e-9), c))
    val lon = when(dense, pick(_.lon) + pick(_.sigma) * radius * cos(angle))
      .otherwise(lit(LonMin) + unif(4) * (LonMax - LonMin))
    val lat = when(dense, pick(_.lat) + pick(_.sigma) * radius * sin(angle))
      .otherwise(lit(LatMin) + unif(5) * (LatMax - LatMin))
    spark.range(0, n, 1, partitions).select(
      col("id"),
      clip(lon, LonMin, LonMax).as("lon"),
      clip(lat, LatMin, LatMax).as("lat"),
      (lit(T0) + (unif(6) * YearMs).cast("long")).as("ts"),
      substring(sha2(concat_ws("-", lit("n"), col("id"), lit(seed)), 256), 1, 12).as("name"))
  }
}

/** Seeded query geometry: polygons in three size classes and five shapes. */
object Polygons {
  val Classes = Seq("small" -> 0.003, "medium" -> 0.02, "large" -> 0.12)
  val Shapes = Seq("rect", "convex", "concave", "holed", "multi")

  final case class Poly(key: String, sizeClass: String, shape: String, wkt: String)

  private def ring(pts: Seq[(Double, Double)]): String =
    (pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")")

  private def ngon(cx: Double, cy: Double, r: Double, k: Int, rot: Double,
                   inner: Double = 1.0): Seq[(Double, Double)] =
    (0 until k).map { i =>
      val a = rot + 2 * math.Pi * i / k
      val rr = if (i % 2 == 1) r * inner else r
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    }

  def generate(seed: Long, perCombo: Int = 1): IndexedSeq[Poly] = {
    val r = new SplittableRandom(seed * 131 + 3)
    val cs = PointCloud.clusters(seed)
    def center(rad: Double): (Double, Double) =
      if (r.nextDouble() < 0.75) {
        val c = cs(r.nextInt(cs.size))
        (c.lon + (r.nextDouble() - 0.5) * c.sigma, c.lat + (r.nextDouble() - 0.5) * c.sigma)
      } else (PointCloud.LonMin + rad + r.nextDouble() * (PointCloud.LonMax - PointCloud.LonMin - 2 * rad),
        PointCloud.LatMin + rad + r.nextDouble() * (PointCloud.LatMax - PointCloud.LatMin - 2 * rad))
    val out = for {
      (cls, size) <- Classes
      shape <- Shapes
      i <- 0 until perCombo
    } yield {
      val rad = size * (0.7 + 0.6 * r.nextDouble())
      val rot = r.nextDouble() * math.Pi
      val (cx, cy) = center(rad)
      val wkt = shape match {
        case "rect" =>
          val w = rad * (0.6 + r.nextDouble()); val h = rad * (0.6 + r.nextDouble())
          "POLYGON (" + ring(Seq((cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h), (cx - w, cy + h))) + ")"
        case "convex" =>
          "POLYGON (" + ring(ngon(cx, cy, rad, 5 + r.nextInt(5), rot)) + ")"
        case "concave" =>
          "POLYGON (" + ring(ngon(cx, cy, rad, 10, rot, inner = 0.45)) + ")"
        case "holed" =>
          "POLYGON (" + ring(ngon(cx, cy, rad, 8, rot)) + ", " +
            ring(ngon(cx, cy, rad * 0.4, 6, rot).reverse) + ")"
        case "multi" =>
          // two parts on two clusters far enough apart not to overlap
          val a = cs(r.nextInt(cs.size))
          val far = cs.filter(b => math.hypot(b.lon - a.lon, b.lat - a.lat) > 3 * rad)
          val b = if (far.nonEmpty) far(r.nextInt(far.size)) else
            PointCloud.Cluster(if (a.lon < -74) a.lon + 1.5 else a.lon - 1.5, a.lat, a.sigma)
          "MULTIPOLYGON ((" + ring(ngon(a.lon, a.lat, rad, 6, rot)) + "), (" +
            ring(ngon(b.lon, b.lat, rad, 7, rot)) + "))"
      }
      Poly(s"$cls-$shape-$i", cls, shape, wkt)
    }
    out.toIndexedSeq
  }
}

/**
 * geo_serve: a closed loop with one client over a seeded mix of
 * `Gis.within`, `Gis.knn` (k = 10) and `Gis.topXAgg` against a point table
 * written once with `Gis.writePointsPartitioned`. Every answer is checked
 * afterwards against an oracle that does not use the path under test.
 */
object GeoServe {
  val Points = 150000L
  val K = 10
  val TopX = Seq(2 -> 4, 8 -> 4, 3 -> 5)

  /** A KNN origin; dense and sparse origins are separate op types, since
    * only sparse ones widen to a full-table scan. */
  final case class Origin(key: String, lon: Double, lat: Double) {
    def kind: String = "knn_" + key.takeWhile(_ != '-')
  }

  def origins(seed: Long, perKind: Int = 6): IndexedSeq[Origin] = {
    val r = new SplittableRandom(seed * 17 + 11)
    val cs = PointCloud.clusters(seed)
    val dense = (0 until perKind).map { i =>
      val c = cs(r.nextInt(cs.size))
      Origin(s"dense-$i", c.lon + (r.nextDouble() - 0.5) * c.sigma,
        c.lat + (r.nextDouble() - 0.5) * c.sigma)
    }
    val sparse = (0 until perKind).map { i =>
      var o: Origin = null
      while (o == null) {
        val lon = PointCloud.LonMin + 0.05 + r.nextDouble() * (PointCloud.LonMax - PointCloud.LonMin - 0.1)
        val lat = PointCloud.LatMin + 0.05 + r.nextDouble() * (PointCloud.LatMax - PointCloud.LatMin - 0.1)
        if (cs.forall(c => math.hypot(c.lon - lon, c.lat - lat) > 6 * c.sigma))
          o = Origin(s"sparse-$i", lon, lat)
      }
      o
    }
    dense ++ sparse
  }

  def writeLayout(ctx: Ctx, path: File): Unit =
    Gis.writePointsPartitioned(
      PointCloud.points(ctx.spark, ctx.seed, Points, ctx.cores)
        .withColumn("geohash", graft.sql.functions.geohash_encode(col("lat"), col("lon"), 12)),
      path.getPath)

  def cellTable(points: DataFrame, prefix: Int): DataFrame =
    points.withColumn("cell", substring(col("geohash"), 1, prefix))

  def specs(ctx: Ctx, points: DataFrame): IndexedSeq[OpSpec] = {
    val within = Polygons.generate(ctx.seed).map { p =>
      OpSpec("within", p.key, () => {
        val (df, callMs) = ctx.call("api.Gis.within")(Gis.within(points, p.wkt))
        val ids = ctx.call("exec.collect")(df.select("id").collect())._1
          .map(_.getLong(0)).sorted.toVector
        OpOut(ids, ids.size, callMs)
      })
    }
    val knn = origins(ctx.seed).map { o =>
      OpSpec(o.kind, o.key, () => {
        val (df, callMs) = ctx.call("api.Gis.knn")(Gis.knn(points, o.lon, o.lat, K))
        val d = ctx.call("exec.collect")(df.select("distance").collect())._1
          .map(_.getDouble(0)).toVector
        OpOut(d, d.size, callMs)
      })
    }
    val topx = TopX.map { case (n, prefix) =>
      OpSpec("topx", s"n$n-p$prefix", () => {
        val (df, callMs) = ctx.call("api.Gis.topXAgg")(
          Gis.topXAgg(cellTable(points, prefix), "cell", "ts", "id", n))
        val rows = ctx.call("exec.collect")(df.collect())._1
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toVector
        OpOut(rows, rows.size, callMs)
      })
    }
    // one pass: every query once, in a seeded order
    new scala.util.Random(ctx.seed).shuffle(within ++ knn ++ topx).toIndexedSeq
  }

  /** Oracle answers keyed by (kind, key), from an unpruned scan of the
    * stored table: JTS `covers` for within, a full sort for KNN, and the
    * window `Gis.topX` for grouped top-X. */
  def oracle(ctx: Ctx, points: DataFrame, used: Set[(String, String)]): Map[(String, String), Any] = {
    val rows = points.select("id", "lon", "lat").collect()
    val ids = rows.map(_.getLong(0)); val xs = rows.map(_.getDouble(1)); val ys = rows.map(_.getDouble(2))
    val gf = new GeometryFactory()
    val reader = new WKTReader(gf)
    val within = Polygons.generate(ctx.seed).filter(p => used(("within", p.key))).map { p =>
      val g = reader.read(p.wkt)
      val prepared = PreparedGeometryFactory.prepare(g)
      val env = g.getEnvelopeInternal
      val hit = ids.indices.iterator.filter { i =>
        env.covers(xs(i), ys(i)) && prepared.covers(gf.createPoint(new Coordinate(xs(i), ys(i))))
      }.map(ids(_)).toVector.sorted
      ("within", p.key) -> hit
    }
    val knn = origins(ctx.seed).filter(o => used((o.kind, o.key))).map { o =>
      val d = new Array[Double](xs.length)
      var i = 0
      while (i < xs.length) {
        val dx = o.lon - xs(i); val dy = o.lat - ys(i)
        d(i) = math.sqrt(dx * dx + dy * dy)
        i += 1
      }
      java.util.Arrays.sort(d)
      (o.kind, o.key) -> d.take(K).toVector
    }
    val topx = TopX.filter { case (n, p) => used(("topx", s"n$n-p$p")) }.map { case (n, prefix) =>
      val rows = Gis.topX(cellTable(points, prefix), "cell", "ts", n, tieBreak = Seq("id"))
        .select("cell", "ts", "id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toVector
      ("topx", s"n$n-p$prefix") -> rows
    }
    (within ++ knn ++ topx).toMap
  }

  def matches(expected: Any, got: Any): Boolean = (expected, got) match {
    case (e: Vector[_], g: Vector[_]) if e.headOption.exists(_.isInstanceOf[Double]) =>
      e.size == g.size && e.zip(g).forall { case (a: Double, b: Double) =>
        math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(a)) }
    case _ => expected == got
  }
}
