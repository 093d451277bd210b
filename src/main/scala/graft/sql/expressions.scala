// Lives under org.apache.spark.sql so Catalyst's `private[sql]` surface
// (AbstractDataType, ImplicitCastInputTypes, ...) is usable — the standard
// packaging for Spark-native extension expressions. Public entry points stay
// in graft.sql.functions.
package org.apache.spark.sql.graft

import graft.geo.Geom
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/**
 * The spatial pushdown predicate as a native Catalyst expression.
 *
 * It replaces the reference's storage-side extension point, the HBase
 * pushdown predicate (reference: src/main/java/tech/stackable/gis/hbase/
 * filter/WithinFilter.java:28-185), with an expression that participates in
 * whole-stage codegen, so the predicate runs inside the scan stage on
 * executors exactly where the reference ran it on region servers. The
 * geohash key derivation (Ingest.java:75-77) is the `geohash_encode` row of
 * [[SqlFunctions]].
 */

/**
 * st_covers_wkt(wktPolygon, lon, lat) → boolean; boundary-inclusive
 * (JTS `covers`, NOT `contains`) per WithinFilter.java:99 and the golden
 * boundary tests (TestWithinFilter.java:108-135). NaN coordinates → false
 * (WithinFilter.java:93-96 drops the row).
 *
 * When the WKT argument is foldable (the overwhelmingly common case — one
 * constant query polygon), the polygon is parsed ONCE and shipped as a
 * codegen reference object, the Spark analog of the reference's
 * parse-once-per-filter-instance (WithinFilter.java:45-52) and JTS
 * PreparedGeometry caching.
 */
case class STCoversWkt(first: Expression, second: Expression, third: Expression,
                       pruned: Boolean = false)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_covers_wkt"

  @transient private lazy val constPolygon: Option[Geom.Geometry] =
    if (first.foldable) {
      Option(first.eval(null)).map(w => Geom.parseWkt(w.toString))
    } else None

  // Non-foldable WKT: cache the last-seen polygon. Single-field tuple keeps
  // the (wkt, polygon) pairing atomic if the instance is shared across threads.
  @transient private var cache: (String, Geom.Geometry) = _
  private def polygonFor(wkt: String): Geom.Geometry = {
    val c = cache
    if (c != null && c._1 == wkt) c._2
    else {
      val p = Geom.parseWkt(wkt)
      cache = (wkt, p)
      p
    }
  }

  override protected def nullSafeEval(wkt: Any, lon: Any, lat: Any): Any = {
    val poly = constPolygon.getOrElse(polygonFor(wkt.toString))
    poly.covers(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    constPolygon match {
      case Some(poly) =>
        val polyRef = ctx.addReferenceObj("graftPolygon", poly, classOf[Geom.Geometry].getName)
        defineCodeGen(ctx, ev, (_, lon, lat) => s"$polyRef.covers($lon, $lat)")
      case None =>
        val self = ctx.addReferenceObj("graftCovers", this, classOf[STCoversWkt].getName)
        defineCodeGen(ctx, ev, (wkt, lon, lat) =>
          s"$self.coversDyn($wkt.toString(), $lon, $lat)")
    }

  /** Called from generated code on the non-foldable path. */
  def coversDyn(wkt: String, lon: Double, lat: Double): Boolean =
    polygonFor(wkt).covers(lon, lat)

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): STCoversWkt = copy(f, s, t)
}

object STCoversWkt {
  /** The query polygon when statically known (used by the pruning rule). */
  def constantPolygon(e: STCoversWkt): Option[Geom.Geometry] =
    if (e.first.foldable) Option(e.first.eval(null)).map(w => Geom.parseWkt(w.toString))
    else None
}
