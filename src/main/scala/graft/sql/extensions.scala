package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * Automatic spatial-predicate pruning: the Catalyst-native version of the
 * reference's hand-coded client-side planning (reference:
 * src/main/java/tech/stackable/gis/hbase/WithinQuery.java:79-102 computes
 * geohash prefixes BEFORE building scans — here the optimizer injects the
 * equivalent candidate predicate wherever the covers expression appears).
 *
 * Rewrite: st_covers_wkt(constPoly, lon, lat) →
 *          lon BETWEEN bbox ∧ lat BETWEEN bbox ∧ st_covers_wkt(..., pruned)
 *
 * The bbox conjuncts are plain comparisons, so Catalyst pushes them into the
 * parquet scan (row-group stats pruning) and, on partitioned layouts,
 * partition pruning — exactly what the reference's prefix scans achieved,
 * minus the hand-rolled planner. Semantics-preserving: covers ⊆ bbox, and
 * the predicates null-reject identically.
 */
object SpatialPruningRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case c @ STCoversWkt(_, lon, lat, false)
        if lon.deterministic && lat.deterministic =>
      STCoversWkt.constantPolygon(c) match {
        case Some(poly) =>
          val (xMin, xMax, yMin, yMax) = poly.bbox
          val bbox = And(
            And(GreaterThanOrEqual(lon, Literal(xMin)), LessThanOrEqual(lon, Literal(xMax))),
            And(GreaterThanOrEqual(lat, Literal(yMin)), LessThanOrEqual(lat, Literal(yMax))))
          And(bbox, c.copy(pruned = true))
        case None => c.copy(pruned = true) // dynamic WKT: nothing to fold
      }
  }
}

/**
 * Session extensions: `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
 * (or `.withExtensions(new GraftExtensions)`) wires the pruning rule and the
 * SQL function surface into any session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SpatialPruningRule)
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
  }
}

object GraftExtensions {
  /** Every [[SqlFunctions]] row, plus the hand-written predicate and generator. */
  val functions: Seq[(String, Seq[Expression] => Expression)] =
    SqlFunctions.all.map(f => f.name -> ((es: Seq[Expression]) => f.expr(es: _*))) ++ Seq(
      "st_covers_wkt" -> (es => STCoversWkt(es(0), es(1), es(2))),
      "explode_shingles" -> (es => ExplodeShingles(es(0), es(1))))
}
