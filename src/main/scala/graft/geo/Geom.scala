package graft.geo

/**
 * Minimal pure-Scala computational geometry, sized to the reference's actual
 * JTS surface (reference: src/main/java/tech/stackable/gis/hbase/WithinQuery.java —
 * `WKTReader.read` :184, `Geometry.covers` :89/:94/:136, `convexHull` :76,
 * `getCentroid` :82; filter/WithinFilter.java:99 `covers(point)`).
 *
 * Semantics pinned by the reference's golden tests:
 *  - `covers` is boundary-INCLUSIVE (point on an edge/vertex is kept) —
 *    TestWithinFilter.java:108-135 (rect to 2.999 keeps 2 pts, to 3.0 keeps 3).
 *    With interior rings, a point ON a hole boundary is still covered (the
 *    hole's ring is part of the polygon's boundary — JTS `covers`), while a
 *    point strictly inside a hole is not.
 *  - distance is planar Euclidean in degrees (DistanceComparator.java:20-27),
 *    NOT great-circle.
 *
 * Geometry generality matches the reference's JTS reader for the shapes a
 * query can bring (`WKTReader.read` accepts any geometry,
 * WithinQuery.java:184-185): POLYGON with any number of interior rings
 * (holes), MULTIPOLYGON, and the non-areal types POINT / MULTIPOINT /
 * LINESTRING / MULTILINESTRING / GEOMETRYCOLLECTION with JTS `covers`
 * semantics (a non-areal geometry covers exactly the points on it).
 * Coordinates are (x=lon, y=lat) throughout, matching WKT axis order.
 */
object Geom {

  final case class Pt(x: Double, y: Double)

  /** Point-vs-ring state for boundary-inclusive tests. */
  private final val OUTSIDE = 0
  private final val BOUNDARY = 1
  private final val INSIDE = 2

  /** Even-odd ray casting with an explicit on-segment test, over an OPEN
    * ring (first point not repeated). */
  private def ringState(ring: IndexedSeq[Pt], px: Double, py: Double): Int = {
    val n = ring.length
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      val a = ring(j); val b = ring(i)
      if (onSegment(a, b, px, py)) return BOUNDARY
      if ((a.y > py) != (b.y > py)) {
        val xInt = a.x + (py - a.y) * (b.x - a.x) / (b.y - a.y)
        if (px < xInt) inside = !inside
      }
      j = i; i += 1
    }
    if (inside) INSIDE else OUTSIDE
  }

  /** (2×signed area, shoelace centroid numerators) of an open ring. */
  private def ringAreaCentroid(ring: IndexedSeq[Pt]): (Double, Double, Double) = {
    var a2 = 0.0; var cx = 0.0; var cy = 0.0
    val n = ring.length
    var i = 0
    while (i < n) {
      val p = ring(i); val q = ring((i + 1) % n)
      val cross = p.x * q.y - q.x * p.y
      a2 += cross
      cx += (p.x + q.x) * cross
      cy += (p.y + q.y) * cross
      i += 1
    }
    (a2, cx, cy)
  }

  /** A query geometry: areal (POLYGON with optional holes, MULTIPOLYGON)
    * or non-areal (POINT, MULTIPOINT, LINESTRING, MULTILINESTRING), plus
    * GEOMETRYCOLLECTION of any mix. */
  sealed trait Geometry {
    /** Boundary-inclusive containment (JTS `covers` for point arguments);
      * for a non-areal geometry, true exactly on the geometry itself. */
    def covers(px: Double, py: Double): Boolean
    /** Axis-aligned bounds: (xMin, xMax, yMin, yMax). */
    def bbox: (Double, Double, Double, Double)
    /** Centroid of the highest-dimension content (JTS: area, else length,
      * else point mean). */
    def centroid: Pt
    /** All defining vertices — a convex region covering these covers the
      * whole geometry (polygon holes are inside the exteriors; every point
      * of a segment is in the convex hull of its endpoints). */
    def exteriorPoints: IndexedSeq[Pt]
  }

  /**
   * A polygon given by its exterior ring and any number of interior rings
   * (holes). Rings are stored OPEN (WKT's closing repeat stripped on parse).
   */
  final case class Polygon(ring: IndexedSeq[Pt],
                           holes: IndexedSeq[IndexedSeq[Pt]] = IndexedSeq.empty)
      extends Geometry {
    require(ring.length >= 3, s"polygon needs >=3 distinct vertices, got ${ring.length}")
    holes.foreach(h => require(h.length >= 3,
      s"interior ring needs >=3 distinct vertices, got ${h.length}"))

    override lazy val bbox: (Double, Double, Double, Double) = {
      var xMin = Double.PositiveInfinity; var xMax = Double.NegativeInfinity
      var yMin = Double.PositiveInfinity; var yMax = Double.NegativeInfinity
      ring.foreach { p =>
        if (p.x < xMin) xMin = p.x; if (p.x > xMax) xMax = p.x
        if (p.y < yMin) yMin = p.y; if (p.y > yMax) yMax = p.y
      }
      (xMin, xMax, yMin, yMax)
    }

    /**
     * Boundary-inclusive point-in-polygon (JTS `covers` semantics): interior
     * or exactly on any boundary — including hole boundaries — is covered;
     * strictly inside a hole is not.
     */
    override def covers(px: Double, py: Double): Boolean = {
      if (px.isNaN || py.isNaN) return false
      val (xMin, xMax, yMin, yMax) = bbox
      if (px < xMin || px > xMax || py < yMin || py > yMax) return false
      ringState(ring, px, py) match {
        case OUTSIDE => false
        case BOUNDARY => true
        case _ =>
          var i = 0
          while (i < holes.length) {
            if (ringState(holes(i), px, py) == INSIDE) return false
            i += 1
          }
          true
      }
    }

    /** True if every exterior vertex of `other` is covered. Exact containment
      * test when `this` is convex and hole-free (the only shape the reference
      * ever tests against a polygon: the convex hull of geohash-cell corners,
      * WithinQuery.java:89/:94) — a convex region covering the exterior
      * vertices covers everything inside them, holes included. */
    def coversPolygon(other: Geometry): Boolean =
      other.exteriorPoints.forall(p => covers(p.x, p.y))

    override def exteriorPoints: IndexedSeq[Pt] = ring

    /** Area centroid (shoelace, holes subtracted); falls back to the
      * exterior vertex mean for degenerate (zero-net-area) rings. */
    override lazy val centroid: Pt = {
      val (aExt, cxExt, cyExt) = ringAreaCentroid(ring)
      // normalize each ring's contribution to |area| so stored orientation
      // never matters: exterior adds, holes subtract
      val sExt = if (aExt < 0) -1.0 else 1.0
      var a2 = aExt * sExt; var cx = cxExt * sExt; var cy = cyExt * sExt
      holes.foreach { h =>
        val (aH, cxH, cyH) = ringAreaCentroid(h)
        val sH = if (aH < 0) -1.0 else 1.0
        a2 -= aH * sH; cx -= cxH * sH; cy -= cyH * sH
      }
      if (math.abs(a2) < 1e-12) {
        Pt(ring.map(_.x).sum / ring.length, ring.map(_.y).sum / ring.length)
      } else {
        Pt(cx / (3 * a2), cy / (3 * a2))
      }
    }
  }

  /** Union of polygons (JTS MULTIPOLYGON): covered = covered by any part. */
  final case class MultiPolygon(polys: IndexedSeq[Polygon]) extends Geometry {
    require(polys.nonEmpty, "MULTIPOLYGON needs at least one polygon")

    override def covers(px: Double, py: Double): Boolean = {
      var i = 0
      while (i < polys.length) {
        if (polys(i).covers(px, py)) return true
        i += 1
      }
      false
    }

    override lazy val bbox: (Double, Double, Double, Double) = {
      var xMin = Double.PositiveInfinity; var xMax = Double.NegativeInfinity
      var yMin = Double.PositiveInfinity; var yMax = Double.NegativeInfinity
      polys.foreach { p =>
        val (x0, x1, y0, y1) = p.bbox
        if (x0 < xMin) xMin = x0; if (x1 > xMax) xMax = x1
        if (y0 < yMin) yMin = y0; if (y1 > yMax) yMax = y1
      }
      (xMin, xMax, yMin, yMax)
    }

    override def exteriorPoints: IndexedSeq[Pt] = polys.flatMap(_.ring)

    /** Net-area-weighted mean of part centroids (JTS multipolygon centroid). */
    override lazy val centroid: Pt = {
      var aSum = 0.0; var cx = 0.0; var cy = 0.0
      polys.foreach { p =>
        val (aExt, _, _) = ringAreaCentroid(p.ring)
        var a = math.abs(aExt)
        p.holes.foreach { h => a -= math.abs(ringAreaCentroid(h)._1) }
        val c = p.centroid
        aSum += a; cx += c.x * a; cy += c.y * a
      }
      if (math.abs(aSum) < 1e-12) {
        val pts = exteriorPoints
        Pt(pts.map(_.x).sum / pts.length, pts.map(_.y).sum / pts.length)
      } else Pt(cx / aSum, cy / aSum)
    }
  }

  // ---- Non-areal query geometries (reference API parity: JTS WKTReader
  // accepts any geometry as the containment query, WithinQuery.java:184-185;
  // JTS `covers` on a zero-area geometry keeps exactly the points ON it) ----

  /** Single point: covers (px,py) iff exactly equal (JTS point-covers). */
  final case class Point(p: Pt) extends Geometry {
    override def covers(px: Double, py: Double): Boolean = px == p.x && py == p.y
    override def bbox: (Double, Double, Double, Double) = (p.x, p.x, p.y, p.y)
    override def centroid: Pt = p
    override def exteriorPoints: IndexedSeq[Pt] = IndexedSeq(p)
  }

  /** Point set: covered = equal to any member. */
  final case class MultiPoint(pts: IndexedSeq[Pt]) extends Geometry {
    require(pts.nonEmpty, "MULTIPOINT needs at least one point")
    override def covers(px: Double, py: Double): Boolean = {
      var i = 0
      while (i < pts.length) {
        if (px == pts(i).x && py == pts(i).y) return true
        i += 1
      }
      false
    }
    override lazy val bbox: (Double, Double, Double, Double) = boundsOf(pts)
    override lazy val centroid: Pt = meanOf(pts)
    override def exteriorPoints: IndexedSeq[Pt] = pts
  }

  /** Open polyline: covered = on any segment (vertices included). */
  final case class LineString(pts: IndexedSeq[Pt]) extends Geometry {
    require(pts.length >= 2, s"LINESTRING needs >=2 points, got ${pts.length}")
    override def covers(px: Double, py: Double): Boolean = {
      val (x0, x1, y0, y1) = bbox
      if (px < x0 || px > x1 || py < y0 || py > y1) return false
      var i = 1
      while (i < pts.length) {
        if (onSegment(pts(i - 1), pts(i), px, py)) return true
        i += 1
      }
      false
    }
    override lazy val bbox: (Double, Double, Double, Double) = boundsOf(pts)
    /** Length-weighted mean of segment midpoints (JTS lineal centroid);
      * zero total length degenerates to the vertex mean. */
    override lazy val centroid: Pt = {
      var len = 0.0; var cx = 0.0; var cy = 0.0
      var i = 1
      while (i < pts.length) {
        val a = pts(i - 1); val b = pts(i)
        val l = math.hypot(b.x - a.x, b.y - a.y)
        len += l; cx += (a.x + b.x) / 2 * l; cy += (a.y + b.y) / 2 * l
        i += 1
      }
      if (len < 1e-300) meanOf(pts) else Pt(cx / len, cy / len)
    }
    override def exteriorPoints: IndexedSeq[Pt] = pts
  }

  /** Union of polylines: covered = on any part. */
  final case class MultiLineString(lines: IndexedSeq[LineString]) extends Geometry {
    require(lines.nonEmpty, "MULTILINESTRING needs at least one part")
    override def covers(px: Double, py: Double): Boolean = lines.exists(_.covers(px, py))
    override lazy val bbox: (Double, Double, Double, Double) = boundsOf(exteriorPoints)
    override lazy val centroid: Pt = lineCentroid(lines.flatMap(l =>
      l.pts.sliding(2).map(s => (s(0), s(1)))))
    override def exteriorPoints: IndexedSeq[Pt] = lines.flatMap(_.pts)
  }

  /** Heterogeneous union (JTS GEOMETRYCOLLECTION): covered = covered by any
    * member. Centroid follows JTS: computed from the highest-dimension
    * members present (areal > lineal > puntal). */
  final case class GeometryCollection(geoms: IndexedSeq[Geometry]) extends Geometry {
    require(geoms.nonEmpty, "GEOMETRYCOLLECTION needs at least one geometry")
    override def covers(px: Double, py: Double): Boolean = {
      val (x0, x1, y0, y1) = bbox
      if (px < x0 || px > x1 || py < y0 || py > y1) return false
      geoms.exists(_.covers(px, py))
    }
    override lazy val bbox: (Double, Double, Double, Double) = {
      var xMin = Double.PositiveInfinity; var xMax = Double.NegativeInfinity
      var yMin = Double.PositiveInfinity; var yMax = Double.NegativeInfinity
      geoms.foreach { g =>
        val (x0, x1, y0, y1) = g.bbox
        if (x0 < xMin) xMin = x0; if (x1 > xMax) xMax = x1
        if (y0 < yMin) yMin = y0; if (y1 > yMax) yMax = y1
      }
      (xMin, xMax, yMin, yMax)
    }
    override lazy val centroid: Pt = {
      def dim(g: Geometry): Int = g match {
        case _: Polygon | _: MultiPolygon => 2
        case _: LineString | _: MultiLineString => 1
        case _: Point | _: MultiPoint => 0
        case GeometryCollection(gs) => gs.map(dim).max
      }
      def leaves(g: Geometry): IndexedSeq[Geometry] = g match {
        case GeometryCollection(gs) => gs.flatMap(leaves)
        case MultiPolygon(ps) => ps
        case MultiLineString(ls) => ls
        case MultiPoint(ps) => ps.map(Point.apply)
        case other => IndexedSeq(other)
      }
      val maxDim = dim(this)
      val top = leaves(this).filter(dim(_) == maxDim)
      maxDim match {
        case 2 => MultiPolygon(top.collect { case p: Polygon => p }).centroid
        case 1 => lineCentroid(top.collect { case l: LineString => l }
          .flatMap(l => l.pts.sliding(2).map(s => (s(0), s(1)))))
        case _ => meanOf(top.collect { case Point(p) => p })
      }
    }
    override def exteriorPoints: IndexedSeq[Pt] = geoms.flatMap(_.exteriorPoints)
  }

  private def boundsOf(pts: IndexedSeq[Pt]): (Double, Double, Double, Double) = {
    var xMin = Double.PositiveInfinity; var xMax = Double.NegativeInfinity
    var yMin = Double.PositiveInfinity; var yMax = Double.NegativeInfinity
    pts.foreach { p =>
      if (p.x < xMin) xMin = p.x; if (p.x > xMax) xMax = p.x
      if (p.y < yMin) yMin = p.y; if (p.y > yMax) yMax = p.y
    }
    (xMin, xMax, yMin, yMax)
  }

  private def meanOf(pts: IndexedSeq[Pt]): Pt =
    Pt(pts.map(_.x).sum / pts.length, pts.map(_.y).sum / pts.length)

  /** Length-weighted centroid of a segment bag; zero length → endpoint mean. */
  private def lineCentroid(segs: Seq[(Pt, Pt)]): Pt = {
    var len = 0.0; var cx = 0.0; var cy = 0.0
    segs.foreach { case (a, b) =>
      val l = math.hypot(b.x - a.x, b.y - a.y)
      len += l; cx += (a.x + b.x) / 2 * l; cy += (a.y + b.y) / 2 * l
    }
    if (len < 1e-300) meanOf(segs.flatMap(s => Seq(s._1, s._2)).toIndexedSeq)
    else Pt(cx / len, cy / len)
  }

  private def onSegment(a: Pt, b: Pt, px: Double, py: Double): Boolean = {
    val cross = (b.x - a.x) * (py - a.y) - (b.y - a.y) * (px - a.x)
    if (cross != 0.0) return false
    px >= math.min(a.x, b.x) && px <= math.max(a.x, b.x) &&
      py >= math.min(a.y, b.y) && py <= math.max(a.y, b.y)
  }

  /** Planar Euclidean distance in coordinate units (degrees), per the
    * reference's DistanceComparator.java:20-27 / Point2D.distance. */
  def euclidean(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    math.sqrt(dx * dx + dy * dy)
  }

  // ---- WKT parsing (reference: WithinQuery.java:184-185 WKTReader.read) ----

  /** Split `s` on commas at paren depth 0 (top-level list elements). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq.map(_.trim)
  }

  /** Strip one layer of enclosing parens (requires them). */
  private def stripParens(s: String): String = {
    val t = s.trim
    require(t.startsWith("(") && t.endsWith(")"), s"malformed WKT group: ${t.take(40)}")
    t.substring(1, t.length - 1)
  }

  private def parseCoord(pair: String): Pt = {
    val t = pair.trim.split("\\s+")
    require(t.length >= 2, s"malformed coordinate '$pair'")
    Pt(t(0).toDouble, t(1).toDouble)
  }

  /** Comma-separated coordinate sequence, closure preserved (LINESTRING). */
  private def parseCoordSeq(coords: String): IndexedSeq[Pt] =
    coords.split(',').map(parseCoord).toIndexedSeq

  private def parseRing(coords: String): IndexedSeq[Pt] = {
    val pts = parseCoordSeq(coords)
    // WKT closes the ring by repeating the first point; store it open.
    if (pts.length > 1 && pts.head == pts.last) pts.dropRight(1) else pts
  }

  /** Parse the ring list of one polygon body: "(outer), (hole), ..." */
  private def parsePolygonBody(body: String): Polygon = {
    val rings = splitTopLevel(body).map(g => parseRing(stripParens(g)))
    require(rings.nonEmpty, "POLYGON needs an exterior ring")
    Polygon(rings.head, rings.tail.toIndexedSeq)
  }

  /**
   * Parse a WKT query geometry — the full type surface the reference's JTS
   * `WKTReader` accepts as a containment query (WithinQuery.java:184-185):
   * POLYGON (with any number of interior rings), MULTIPOLYGON, POINT,
   * MULTIPOINT (both `(1 2, 3 4)` and `((1 2), (3 4))` coordinate forms),
   * LINESTRING, MULTILINESTRING, and GEOMETRYCOLLECTION (recursive).
   * Non-areal types carry JTS `covers` semantics: they cover exactly the
   * points on them, so a region scan against them degenerates to an
   * on-geometry match rather than an error.
   */
  def parseWkt(wkt: String): Geometry = {
    val s = wkt.trim
    val upper = s.toUpperCase(java.util.Locale.ROOT)
    // longest-prefix first so MULTIPOINT doesn't read as POINT
    if (upper.startsWith("GEOMETRYCOLLECTION")) {
      val body = stripParens(s.substring("GEOMETRYCOLLECTION".length))
      GeometryCollection(splitTopLevel(body).map(parseWkt).toIndexedSeq)
    } else if (upper.startsWith("MULTIPOLYGON")) {
      val body = stripParens(s.substring("MULTIPOLYGON".length))
      MultiPolygon(splitTopLevel(body).map(g => parsePolygonBody(stripParens(g))).toIndexedSeq)
    } else if (upper.startsWith("MULTILINESTRING")) {
      val body = stripParens(s.substring("MULTILINESTRING".length))
      MultiLineString(splitTopLevel(body).map(g => LineString(parseCoordSeq(stripParens(g)))).toIndexedSeq)
    } else if (upper.startsWith("MULTIPOINT")) {
      val body = stripParens(s.substring("MULTIPOINT".length))
      MultiPoint(splitTopLevel(body).map { g =>
        val t = g.trim
        parseCoord(if (t.startsWith("(")) stripParens(t) else t)
      }.toIndexedSeq)
    } else if (upper.startsWith("POLYGON")) {
      parsePolygonBody(stripParens(s.substring("POLYGON".length)))
    } else if (upper.startsWith("LINESTRING")) {
      LineString(parseCoordSeq(stripParens(s.substring("LINESTRING".length))))
    } else if (upper.startsWith("POINT")) {
      Point(parseCoord(stripParens(s.substring("POINT".length))))
    } else {
      throw new IllegalArgumentException(
        s"unsupported WKT geometry: ${s.take(30)} (supported: POINT, " +
          "MULTIPOINT, LINESTRING, MULTILINESTRING, POLYGON, MULTIPOLYGON, " +
          "GEOMETRYCOLLECTION)")
    }
  }

  /** Parse a WKT POLYGON (interior rings included). Kept for callers that
    * require a single polygon; [[parseWkt]] is the general entry point. */
  def parseWktPolygon(wkt: String): Polygon = parseWkt(wkt) match {
    case p: Polygon => p
    case MultiPolygon(ps) if ps.length == 1 => ps.head
    case other => throw new IllegalArgumentException(
      s"expected a single POLYGON, got ${other.getClass.getSimpleName}: ${wkt.take(40)}")
  }

  /** WKT text of a geometry (closing each ring), inverse of [[parseWkt]] —
    * covers the reference's filter round-trip surface (F6: WithinFilter
    * toByteArray/parseFrom ships the WKT text, Filter.proto:12-17). */
  def toWkt(g: Geometry): String = g match {
    case p: Polygon => s"POLYGON ${polygonBodyWkt(p)}"
    case MultiPolygon(ps) => ps.map(polygonBodyWkt).mkString("MULTIPOLYGON (", ", ", ")")
    case Point(p) => s"POINT (${p.x} ${p.y})"
    case MultiPoint(ps) =>
      ps.map(p => s"(${p.x} ${p.y})").mkString("MULTIPOINT (", ", ", ")")
    case LineString(ps) =>
      ps.map(p => s"${p.x} ${p.y}").mkString("LINESTRING (", ", ", ")")
    case MultiLineString(ls) =>
      ls.map(l => l.pts.map(p => s"${p.x} ${p.y}").mkString("(", ", ", ")"))
        .mkString("MULTILINESTRING (", ", ", ")")
    case GeometryCollection(gs) =>
      gs.map(toWkt).mkString("GEOMETRYCOLLECTION (", ", ", ")")
  }

  private def polygonBodyWkt(p: Polygon): String = {
    def ringWkt(r: IndexedSeq[Pt]): String =
      (r :+ r.head).map(pt => s"${pt.x} ${pt.y}").mkString("(", ", ", ")")
    (p.ring +: p.holes).map(ringWkt).mkString("(", ", ", ")")
  }

  /** Convex hull (Andrew's monotone chain), returned as a CCW polygon. */
  def convexHull(points: Seq[Pt]): Polygon = {
    val pts = points.distinct.sortBy(p => (p.x, p.y)).toIndexedSeq
    require(pts.length >= 3, s"hull needs >=3 distinct points, got ${pts.length}")
    def cross(o: Pt, a: Pt, b: Pt): Double =
      (a.x - o.x) * (b.y - o.y) - (a.y - o.y) * (b.x - o.x)
    val lower = scala.collection.mutable.ArrayBuffer.empty[Pt]
    pts.foreach { p =>
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, p) <= 0)
        lower.remove(lower.length - 1)
      lower += p
    }
    val upper = scala.collection.mutable.ArrayBuffer.empty[Pt]
    pts.reverse.foreach { p =>
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, p) <= 0)
        upper.remove(upper.length - 1)
      upper += p
    }
    val hull = (lower.dropRight(1) ++ upper.dropRight(1)).toIndexedSeq
    if (hull.length >= 3) Polygon(hull)
    else Polygon(pts) // collinear degenerate; callers only use covers()
  }
}
