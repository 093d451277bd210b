package graft.geo

import graft.geo.Geom.{Geometry, Polygon, Pt}

/**
 * Spatial-predicate → geohash-prefix pruning: the planner-side rewrite the
 * reference hand-codes in the client (reference:
 * src/main/java/tech/stackable/gis/hbase/WithinQuery.java:47-102 —
 * cell corners :47-68, hull-of-cells :70-77, minimumBoundingPrefixes :79-102;
 * KNN candidates: KNNQuery.java:31,84-88).
 *
 * On geohash-sorted/partitioned storage, a prefix predicate becomes
 * partition + row-group pruning at the Parquet scan — the Spark analog of
 * the reference's HBase start-row/PrefixFilter range scans.
 */
object GeohashPruning {

  /** The 4 corner coordinates of one geohash cell (WithinQuery.java:47-68). */
  def cellCorners(geohash: String): Seq[Pt] = {
    val (latLo, latHi, lonLo, lonHi) = Geohash.decodeBbox(geohash)
    Seq(Pt(lonLo, latLo), Pt(lonLo, latHi), Pt(lonHi, latLo), Pt(lonHi, latHi))
  }

  /** Convex hull of the corners of a set of geohash cells (WithinQuery.java:70-77). */
  def hullOfCells(cells: Seq[String]): Polygon =
    Geom.convexHull(cells.flatMap(cellCorners))

  /**
   * Minimum bounding prefix set for a query polygon, searching precision
   * maxPrecision→1 (reference default 7→1, WithinQuery.java:79-102):
   * at each precision take the cell of the query centroid; if that single
   * cell's hull covers the polygon → 1 prefix; else if the hull of the cell
   * plus its 8 neighbors covers → 9 prefixes; else coarsen.
   *
   * Unlike the reference (which throws IllegalArgumentException,
   * WithinQuery.java:100-101), an uncoverable query yields None and callers
   * fall back to a full scan — correct at any query size.
   */
  def minimumBoundingPrefixes(query: Geometry, maxPrecision: Int = 7): Option[Seq[String]] = {
    query match {
      case Geom.MultiPolygon(polys) if polys.length > 1 =>
        // per-part search, then union: far-apart parts (two cities) would
        // otherwise force the single-center search to coarsen until one
        // cell block spans both — per-part sets keep each part's pruning
        // tight. Sound: a covered point is covered by SOME part, hence in
        // that part's prefix set.
        unionOfParts(polys, maxPrecision)
      // the same per-member union for every other multi-part geometry: a
      // collection mixing members on two continents must not coarsen the
      // whole search to one planet-sized cell block
      case Geom.GeometryCollection(gs) => unionOfParts(gs, maxPrecision)
      case Geom.MultiPoint(pts) if pts.length > 1 =>
        unionOfParts(pts.map(Geom.Point.apply), maxPrecision)
      case Geom.MultiLineString(ls) if ls.length > 1 =>
        unionOfParts(ls, maxPrecision)
      case _ =>
        val c = query.centroid
        var precision = maxPrecision
        while (precision >= 1) {
          val center = Geohash.encode(c.y, c.x, precision)
          if (cellsEncodeCover(Seq(center), query)) return Some(Seq(center))
          val nine = center +: Geohash.neighbors(center)
          if (cellsEncodeCover(nine, query)) return Some(nine)
          precision -= 1
        }
        None
    }
  }

  /**
   * True iff every point of `query` geohash-ENCODES into one of `cells`.
   * Encoding is half-open — `Geohash.encode` assigns a point exactly on a
   * cell's east/north edge to the NEXT cell (`lon >= mid` refines up) — so
   * the reference's closed convex-hull covers test (WithinQuery.java:89/:94,
   * JTS `covers`) over-claims for queries whose boundary lies exactly on a
   * cell edge: the hull says covered, the rowkey lands outside the prefix,
   * and on-edge points are silently missed. This test uses the cell-union
   * box with STRICT east/north edges (inclusive only at the global
   * lon=180 / lat=90 maxima, where encode clamps into the last cell), and
   * first requires the cells to actually tile their bounding box — an
   * antimeridian-wrapped neighbor set is not a contiguous block and must
   * coarsen instead.
   */
  private def cellsEncodeCover(cells: Seq[String], query: Geometry): Boolean =
    tiledBox(cells).exists { case (y0, y1, x0, x1) =>
      val (qx0, qx1, qy0, qy1) = query.bbox
      val eastOk = if (x1 >= 180.0) qx1 <= x1 else qx1 < x1
      val northOk = if (y1 >= 90.0) qy1 <= y1 else qy1 < y1
      qx0 >= x0 && qy0 >= y0 && eastOk && northOk
    }

  /** Bounding box (latMin, latMax, lonMin, lonMax) of `cells` when they tile
    * it exactly; None for a set that leaves holes in its box, such as a
    * neighbour set wrapped across the antimeridian. */
  private def tiledBox(cells: Seq[String]): Option[(Double, Double, Double, Double)] = {
    val boxes = cells.map(Geohash.decodeBbox)
    val y0 = boxes.map(_._1).min; val y1 = boxes.map(_._2).max
    val x0 = boxes.map(_._3).min; val x1 = boxes.map(_._4).max
    val tiled = boxes.map(b => (b._2 - b._1) * (b._4 - b._3)).sum
    val box = (y1 - y0) * (x1 - x0)
    if (math.abs(tiled - box) > 1e-9 * box) None else Some((y0, y1, x0, x1))
  }

  /** Per-part prefix search, unioned. Sound: a covered point is covered
    * by SOME part, hence in that part's prefix set; None (uncoverable
    * part) poisons the whole union — callers fall back to a full scan. */
  private def unionOfParts(parts: Seq[Geometry],
                           maxPrecision: Int): Option[Seq[String]] = {
    val sets = parts.map(p => minimumBoundingPrefixes(p, maxPrecision))
    if (sets.forall(_.isDefined)) Some(sets.flatMap(_.get).distinct)
    else None
  }

  /** KNN candidate prefixes: cell of the query point at `precision` plus its
    * 8 neighbors (KNNQuery.java:31,84-88; default precision 7 ≈ ±0.7 km). */
  def knnPrefixes(lon: Double, lat: Double, precision: Int = 7): Seq[String] =
    Geohash.cellAndNeighbors(lat, lon, precision)
}
