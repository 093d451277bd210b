package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import graft.api.Gis

/**
 * The ingest set-up of geo_serve: `Gis.ingestTsv` → `Gis.writePointsPartitioned`
 * end to end over a seeded TSV in the reference's wifi column layout, with a
 * share of duplicate coordinates and of missing lon/lat (empty fields: a
 * non-numeric one makes `Gis.ingestTsv` throw under Spark's ANSI mode).
 */
object GeoIngest {
  val Rows = 40000
  val DuplicateShare = 0.08
  val MissingShare = 0.01

  /** Writes the TSV and returns the distinct geohash-12 keys a correct
    * ingest stores (None stands for the one row of missing coordinates). */
  def writeTsv(seed: Long, file: File): Set[Option[String]] = {
    val r = new SplittableRandom(seed * 7 + 5)
    val cs = PointCloud.clusters(seed)
    val lons = new Array[Double](Rows); val lats = new Array[Double](Rows)
    val keys = scala.collection.mutable.HashSet.empty[Option[String]]
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(Gis.WifiColumns.mkString("\t")); w.write('\n')
      var i = 0
      while (i < Rows) {
        val u = r.nextDouble()
        val (lon, lat) =
          if (i > 0 && u < DuplicateShare) { val j = r.nextInt(i); (lons(j), lats(j)) }
          else if (u < DuplicateShare + PointCloud.DenseShare) {
            val c = cs(r.nextInt(cs.size))
            (clamp(c.lon + c.sigma * gauss(r), PointCloud.LonMin, PointCloud.LonMax),
              clamp(c.lat + c.sigma * gauss(r), PointCloud.LatMin, PointCloud.LatMax))
          } else (PointCloud.LonMin + r.nextDouble() * (PointCloud.LonMax - PointCloud.LonMin),
            PointCloud.LatMin + r.nextDouble() * (PointCloud.LatMax - PointCloud.LatMin))
        lons(i) = lon; lats(i) = lat
        val missing = r.nextDouble() < MissingShare
        val lonField = if (missing && r.nextBoolean()) "" else lon.toString
        val latField = if (missing && lonField.nonEmpty) "" else lat.toString
        keys += (if (missing) None else Some(OracleGeohash.encode(lat, lon, 12)))
        w.write(lonField); w.write('\t'); w.write(latField); w.write('\t')
        w.write(i.toString); w.write('\t')
        var f = 0
        while (f < 7) { w.write(word(r)); w.write(if (f < 6) '\t' else '\n'); f += 1 }
        i += 1
      }
    } finally w.close()
    keys.toSet
  }

  private def clamp(v: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi - 1e-9, v))

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(math.max(r.nextDouble(), 1e-300))) * math.cos(2 * math.Pi * r.nextDouble())

  private def word(r: SplittableRandom): String = {
    val n = 4 + r.nextInt(9)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  def spec(ctx: Ctx, tsv: File, outDir: File): OpSpec = {
    var n = 0
    OpSpec("ingest", "tsv", () => {
      n += 1
      val out = new File(outDir, s"layout-$n")
      val (df, ingestMs) = ctx.call("api.Gis.ingestTsv")(Gis.ingestTsv(ctx.spark, tsv.getPath))
      val (_, writeMs) = ctx.call("api.Gis.writePointsPartitioned")(
        Gis.writePointsPartitioned(df, out.getPath))
      val (files, dirs, bytes) = Files.footprint(out)
      OpOut(out, Rows, ingestMs + writeMs, files, dirs, bytes)
    })
  }

  /** The stored geohash keys of one ingest's layout. */
  def storedKeys(ctx: Ctx, out: File): (Set[Option[String]], Long) = {
    val rows = ctx.spark.read.parquet(out.getPath).select("geohash").collect()
    (rows.map(r => Option(r.getString(0))).toSet, rows.length.toLong)
  }
}

/** A plain geohash encoder of the benchmark's own (the standard bisection),
  * so the ingest check does not rest on the program's codec. */
object OracleGeohash {
  private val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  def encode(lat: Double, lon: Double, chars: Int): String = {
    val lonR = Array(-180.0, 180.0); val latR = Array(-90.0, 90.0)
    val sb = new StringBuilder
    var bits = 0; var value = 0; var lonTurn = true
    while (sb.length < chars) {
      val (range, v) = if (lonTurn) (lonR, lon) else (latR, lat)
      val mid = (range(0) + range(1)) / 2
      value <<= 1
      if (v >= mid) { value |= 1; range(0) = mid } else range(1) = mid
      lonTurn = !lonTurn
      bits += 1
      if (bits == 5) { sb += Base32(value); bits = 0; value = 0 }
    }
    sb.toString
  }
}
