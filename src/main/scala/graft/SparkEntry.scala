package graft

import graft.api.Gis
import graft.gates._
import graft.gates.Fixtures.points
import graft.sql.{functions => G}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The gate registry: one gate per implemented operator from SURVEY.md §2
 * (+ the training-pipeline extensions), each a Spark query with its DuckDB
 * oracle. The gates live per family under `graft.gates`; `queries` and
 * `oracleSql` are name-keyed views of them.
 *
 * Determinism rules for oracle parity (the driver hash-compares values):
 * - money/metric doubles are aggregated as exact integer cents/milli units
 * - timestamps are emitted as epoch-second/milli BIGINTs, never raw
 * - float expressions are written with the IDENTICAL operation tree on both
 *   sides so IEEE doubles match bit-for-bit
 * - every top-k query carries a total tiebreak order
 * - spatial predicates use polygon boundaries offset off the derived 0.1°
 *   coordinate grid, so no point sits exactly on a boundary
 */
object SparkEntry {

  /** Flagship: diamond containment over the derived point cloud with geohash
    * prefix pruning — exercises ingest key derivation, planning, pruning,
    * and the covers predicate end-to-end. (At sf0.001 part keys stop at 199,
    * so derived lons live in [-180, -160.1]; the entry polygon sits there.) */
  def entry(spark: SparkSession): DataFrame = {
    val pts = points(spark, "/root/testdata/sf0.001")
      .withColumn("geohash", G.geohash_encode(col("lat"), col("lon"), 12))
    val diamond = "POLYGON ((-179.075 -0.05, -170.05 -9.075, " +
      "-161.025 -0.05, -170.05 8.975, -179.075 -0.05))"
    Gis.within(pts, diamond)
  }

  lazy val gates: Seq[Gate] = Gate.registry(GeoGates.all, RelationalGates.all,
    EventsGates.all, GraphGates.all, VectorGates.all, TextGates.all, DedupGates.all)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.query).toMap

  lazy val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
