package graft
package gates

import graft.api.Gis
import graft.sources.Tables
import graft.sql.{functions => G}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures._

/** The paper's own surface: geohash keys, boundary-inclusive `within`,
  * KNN, grouped top-X, and the spatial joins built from them. */
object GeoGates {

  private val PointsSql =
    "SELECT l_orderkey, l_linenumber, (l_partkey % 3600)/10.0 - 180.0 AS lon, " +
      "(l_orderkey % 1700)/10.0 - 85.0 AS lat FROM lineitem"

  /** Second/third point sets for spatial joins (customer/supplier-derived). */
  private def custPoints(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "customer")
      .select(col("c_custkey"),
        ((col("c_custkey") % 3600) / 10.0 - 180.0).as("lon"),
        (((col("c_custkey") * 7) % 1700) / 10.0 - 85.0).as("lat"))

  private val CustPointsSql =
    "SELECT c_custkey, (c_custkey % 3600)/10.0 - 180.0 AS lon, " +
      "((c_custkey * 7) % 1700)/10.0 - 85.0 AS lat FROM customer"

  private def suppPoints(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "supplier")
      .select(col("s_suppkey"),
        (((col("s_suppkey") * 13) % 3600) / 10.0 - 180.0).as("lon"),
        (((col("s_suppkey") * 17) % 1700) / 10.0 - 85.0).as("lat"))

  private val SuppPointsSql =
    "SELECT s_suppkey, ((s_suppkey * 13) % 3600)/10.0 - 180.0 AS lon, " +
      "((s_suppkey * 17) % 1700)/10.0 - 85.0 AS lat FROM supplier"

  // Axis-aligned rectangle, boundaries off-grid (x.x5)
  private val RectWkt =
    "POLYGON ((-150.05 -40.05, -150.05 10.05, -100.05 10.05, -100.05 -40.05, -150.05 -40.05))"

  // Convex diamond (CCW), edges |x+80.05|+|y+15.05| = 30.025 — off-grid
  private val DiamondWkt =
    "POLYGON ((-110.075 -15.05, -80.05 -45.075, -50.025 -15.05, -80.05 14.975, -110.075 -15.05))"

  // Mixed-dimension query geometry: an areal rect, a measure-zero
  // LINESTRING lying exactly on the point grid's lon = -150.0 column
  // (300/10.0 - 180.0 is exact in IEEE double, so on-line matches are
  // deterministic cross-engine), and an off-grid POINT that matches
  // nothing — the JTS covers semantics for each member
  private val CollectionWkt =
    "GEOMETRYCOLLECTION (" +
      "POLYGON ((-60.05 20.05, -60.05 60.05, -20.05 60.05, -20.05 20.05, -60.05 20.05)), " +
      "LINESTRING (-150 -85, -150 85), POINT (-10.05 70.05))"

  private val Diamond: Seq[(Double, Double)] =
    Seq((-110.075, -15.05), (-80.05, -45.075), (-50.025, -15.05), (-80.05, 14.975))

  /** Sign-test containment SQL for the CCW convex diamond (boundary-inclusive,
    * equivalent to covers since no data point can land on an edge). */
  private val DiamondSql: String =
    (Diamond :+ Diamond.head).sliding(2).map { case Seq((x1, y1), (x2, y2)) =>
      s"(($x2 - $x1)*(lat - $y1) - ($y2 - $y1)*(lon - $x1)) >= 0"
    }.mkString(" AND ")

  /** Grouped top-3 earliest events per user, (ts_ms, event_id) order:
    * the window and bounded-heap top-X gates must both equal it. */
  private val TopXOracleSql: String =
    "SELECT user_id, event_id, ts_ms FROM (" +
      "SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000 ASC, event_id ASC) AS rn " +
      "FROM events) WHERE rn <= 3"

  val all: Seq[Gate] = Seq(
    // S2: geohash key derivation (no SQL oracle — pinned by scalatest vectors)
    Gate("q_geohash_keys", (s, d) =>
      points(s, d).select(col("l_orderkey"), col("l_linenumber"),
        G.geohash_encode(col("lat"), col("lon"), 12).as("geohash")),
      // Independent geohash re-derivation: closed-form cell index
      // floor((coord - lo) / range * 2^30) == the encoder's 30-step bisection
      // (boundaries are dyadic; the nearest tenth-degree input sits ≥4.5e-3
      // index units from any boundary vs ~1e-7 FP error, margin ~5e4), then
      // lon/lat bit interleave + base32, all in DuckDB list lambdas.
      s"WITH idx AS (SELECT l_orderkey, l_linenumber, " +
        "least(CAST(floor((CAST(lon AS DOUBLE) + 180.0) * 1073741824.0 / 360.0) AS BIGINT), 1073741823) AS li, " +
        "least(CAST(floor((CAST(lat AS DOUBLE) + 90.0) * 1073741824.0 / 180.0) AS BIGINT), 1073741823) AS la " +
        s"FROM ($PointsSql)), " +
        "inter AS (SELECT l_orderkey, l_linenumber, " +
        "CAST(list_sum(list_transform(range(30), j -> " +
        "(((li >> (29 - j)) & 1) << (59 - 2*j)) + (((la >> (29 - j)) & 1) << (58 - 2*j)))) AS BIGINT) AS bits " +
        "FROM idx) " +
        "SELECT l_orderkey, l_linenumber, " +
        "array_to_string(list_transform(range(12), c -> " +
        "substring('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((bits >> (55 - 5*c)) & 31) AS INT) + 1, 1)), '') AS geohash " +
        "FROM inter"),

    // geohash-grid density (heatmap tiles): per-cell point counts + the
    // bbox of the points inside, at precision 2 — the figures-rendering
    // aggregation; the oracle re-derives the bit-interleave and truncates
    // to the cell prefix, min/max doubles compare bit-exactly because the
    // same IEEE expression computes lon/lat in both engines
    Gate("q_grid_density", (s, d) =>
      Gis.gridDensity(points(s, d), precision = 2),
      // grid-density replay: same bit-interleave as the q_geohash_keys
      // oracle, truncated to the 2-char cell prefix, then the group summary
      s"WITH idx AS (SELECT lon, lat, " +
        "least(CAST(floor((CAST(lon AS DOUBLE) + 180.0) * 1073741824.0 / 360.0) AS BIGINT), 1073741823) AS li, " +
        "least(CAST(floor((CAST(lat AS DOUBLE) + 90.0) * 1073741824.0 / 180.0) AS BIGINT), 1073741823) AS la " +
        s"FROM ($PointsSql)), " +
        "inter AS (SELECT lon, lat, " +
        "CAST(list_sum(list_transform(range(30), j -> " +
        "(((li >> (29 - j)) & 1) << (59 - 2*j)) + (((la >> (29 - j)) & 1) << (58 - 2*j)))) AS BIGINT) AS bits " +
        "FROM idx), " +
        "cells AS (SELECT array_to_string(list_transform(range(2), c -> " +
        "substring('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((bits >> (55 - 5*c)) & 31) AS INT) + 1, 1)), '') AS cell, " +
        "lon, lat FROM inter) " +
        "SELECT cell, CAST(count(*) AS BIGINT) AS n_points, " +
        "min(lon) AS min_lon, max(lon) AS max_lon, " +
        "min(lat) AS min_lat, max(lat) AS max_lat FROM cells GROUP BY 1"),

    // S1-S3+S7: full TSV ingest path on the reference's own wifi fixture
    // (geohash-12 keys + dedup; golden counts pinned in GisGoldenSpec).
    // Output is (lon, lat): the geohash-12 dedup keeps exactly one row per
    // distinct raw coordinate on this fixture (1224 == distinct(lon,lat)),
    // so DuckDB's DISTINCT over read_csv is an exact oracle. Key derivation
    // itself is pinned by q_geohash_keys + the scalatest vectors.
    Gate("q_ingest_tsv", (s, _) =>
      Gis.ingestTsv(s, WifiTsv)
        .select(col("lon"), col("lat")),
      "SELECT DISTINCT CAST(X AS DOUBLE) AS lon, CAST(Y AS DOUBLE) AS lat " +
        s"FROM read_csv('$WifiTsv', " +
        "delim='\t', header=true, quote='', all_varchar=true)"),

    // F2/F5: covers refinement, axis-aligned rectangle
    Gate("q_within_rect", (s, d) =>
      points(s, d)
        .filter(G.st_covers(RectWkt, col("lon"), col("lat")))
        .select(col("l_orderkey"), col("l_linenumber"), col("lon"), col("lat")),
      s"SELECT l_orderkey, l_linenumber, lon, lat FROM ($PointsSql) " +
        "WHERE lon BETWEEN -150.05 AND -100.05 AND lat BETWEEN -40.05 AND 10.05"),

    // F2 on a non-rectangular convex polygon
    Gate("q_within_poly", (s, d) =>
      points(s, d)
        .filter(G.st_covers(DiamondWkt, col("lon"), col("lat")))
        .select(col("l_orderkey"), col("l_linenumber"), col("lon"), col("lat")),
      s"SELECT l_orderkey, l_linenumber, lon, lat FROM ($PointsSql) WHERE $DiamondSql"),

    // F2 on the full JTS query-geometry surface (reference
    // WithinQuery.java:184-185 accepts ANY WKT geometry): one covers
    // predicate over a GEOMETRYCOLLECTION whose members contribute by
    // their own dimension — rect interior+boundary, exact on-LINESTRING
    // points, and a no-op POINT. Single scan, no union
    Gate("q_within_collection", (s, d) =>
      points(s, d)
        .filter(G.st_covers(CollectionWkt, col("lon"), col("lat")))
        .select(col("l_orderkey"), col("l_linenumber"), col("lon"), col("lat")),
      // rect member = bbox test; LINESTRING member = exact lon equality
      // (the grid value -150.0 is exact in both engines); POINT member is
      // off-grid and contributes nothing
      s"SELECT l_orderkey, l_linenumber, lon, lat FROM ($PointsSql) " +
        "WHERE (lon BETWEEN -60.05 AND -20.05 AND lat BETWEEN 20.05 AND 60.05) " +
        "OR lon = -150.0"),

    // P3+F1+F2: full filter-and-refine with geohash prefix pruning — result
    // must equal the plain rectangle predicate (pruning is transparent)
    Gate("q_within_pruned", (s, d) => {
      val pts = points(s, d).withColumn("geohash",
        G.geohash_encode(col("lat"), col("lon"), 12))
      Gis.within(pts, RectWkt)
        .select(col("l_orderkey"), col("l_linenumber"), col("lon"), col("lat"))
    },
      s"SELECT l_orderkey, l_linenumber, lon, lat FROM ($PointsSql) " +
        "WHERE lon BETWEEN -150.05 AND -100.05 AND lat BETWEEN -40.05 AND 10.05"),

    // A1/A2/A3/A9: global k-nearest-neighbors, Euclidean degrees
    Gate("q_knn", (s, d) => {
      val d2 = (col("lon") + 80.05) * (col("lon") + 80.05) +
        (col("lat") + 15.05) * (col("lat") + 15.05)
      points(s, d)
        .withColumn("d2", d2)
        .orderBy(col("d2").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(20)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("d2") * 400).cast("long").as("d2_q"))
    },
      s"SELECT l_orderkey, l_linenumber, " +
        "CAST(round(((lon + 80.05)*(lon + 80.05) + (lat + 15.05)*(lat + 15.05)) * 400) AS BIGINT) AS d2_q " +
        s"FROM ($PointsSql) " +
        "ORDER BY (lon + 80.05)*(lon + 80.05) + (lat + 15.05)*(lat + 15.05) ASC, " +
        "l_orderkey ASC, l_linenumber ASC LIMIT 20"),

    // A6: grouped top-N earliest (window rank) over events
    Gate("q_topx", (s, d) =>
      Gis.topX(Tables.table(s, d, "events")
          .withColumn("ts_ms", expr("unix_micros(ts) div 1000")),
        "user_id", "ts_ms", 3, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("ts_ms")),
      TopXOracleSql),

    // A4/A6: same grouped top-N via the bounded-heap TypedImperativeAggregate
    // (partial per-partition heaps + final merge — no window sort)
    Gate("q_topx_agg", (s, d) =>
      Gis.topXAgg(Tables.table(s, d, "events")
          .withColumn("ts_ms", expr("unix_micros(ts) div 1000")),
        "user_id", "ts_ms", "event_id", 3)
        .select(col("user_id"), col("event_id"), col("ts_ms")),
      TopXOracleSql),

    // A8: first-N-per-bin (design doc docs/testtopxkeys.md)
    Gate("q_topx_bin", (s, d) =>
      Tables.table(s, d, "orders")
        .withColumn("bin", col("o_orderkey") % 10)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("bin")).orderBy(col("o_orderkey").asc)))
        .filter(col("rn") <= 2)
        .select(col("bin"), col("o_orderkey")),
      "SELECT bin, o_orderkey FROM (" +
        "SELECT o_orderkey % 10 AS bin, o_orderkey, " +
        "row_number() OVER (PARTITION BY o_orderkey % 10 ORDER BY o_orderkey ASC) AS rn " +
        "FROM orders) WHERE rn <= 2"),

    // A8 full doc semantics (testtopxkeys.md:14-52): rowkey-substring bin
    // over a key range, first N per bin in key order, AND the scan's global
    // limit still capping the binned result. Rowkey = c_name; bin = the
    // tens digit (byte offset 16); doc's N=1/2/3 examples pinned in
    // GisGoldenSpec.
    Gate("q_topx_bin_limit", (s, d) =>
      Gis.firstNPerBin(Tables.table(s, d, "customer"), "c_name",
          offset = 16, length = 1, n = 2,
          startKey = "Customer#000000", endKey = "Customer#000001", limit = 15)
        .select(col("c_custkey"), col("c_name")),
      // c_name is unique, so the ORDER BY ... LIMIT picks a deterministic set
      "SELECT c_custkey, c_name FROM (" +
        "SELECT c_custkey, c_name, " +
        "row_number() OVER (PARTITION BY substring(c_name, 17, 1) ORDER BY c_name ASC) AS rn " +
        "FROM customer WHERE c_name >= 'Customer#000000' AND c_name < 'Customer#000001') " +
        "WHERE rn <= 2 ORDER BY c_name ASC LIMIT 15"),

    Gate("q_distance_join", (s, d) => {
      val a = custPoints(s, d)
      val b = suppPoints(s, d)
      val d2 = (col("a_lon") - col("b_lon")) * (col("a_lon") - col("b_lon")) +
        (col("a_lat") - col("b_lat")) * (col("a_lat") - col("b_lat"))
      graft.api.SpatialJoin.distanceJoin(a, b, radius = 5.0)
        .select(col("a_c_custkey"), col("b_s_suppkey"),
          round(d2 * 100).cast("long").as("d2_centi"))
    },
      s"WITH a AS ($CustPointsSql), b AS ($SuppPointsSql) " +
        "SELECT a.c_custkey AS a_c_custkey, b.s_suppkey AS b_s_suppkey, " +
        "CAST(round(((a.lon - b.lon)*(a.lon - b.lon) + (a.lat - b.lat)*(a.lat - b.lat)) * 100) AS BIGINT) AS d2_centi " +
        "FROM a, b WHERE (a.lon - b.lon)*(a.lon - b.lon) + (a.lat - b.lat)*(a.lat - b.lat) <= 25.0"),

    // bounded-heap variant: partial per-partition top-k heaps, no window
    // sort of the pair stream (identical result to the window formulation —
    // pinned by the GisGoldenSpec differential)
    Gate("q_knn_join", (s, d) =>
      graft.api.SpatialJoin.knnJoinAgg(custPoints(s, d), suppPoints(s, d),
          k = 3, radius = 10.0, aKeyCol = "c_custkey", bIdCol = "s_suppkey")
        .select(col("a_c_custkey"), col("b_s_suppkey")),
      s"WITH a AS ($CustPointsSql), b AS ($SuppPointsSql), " +
        "j AS (SELECT a.c_custkey AS a_c_custkey, b.s_suppkey AS b_s_suppkey, " +
        "sqrt((a.lon - b.lon)*(a.lon - b.lon) + (a.lat - b.lat)*(a.lat - b.lat)) AS distance " +
        "FROM a, b WHERE (a.lon - b.lon)*(a.lon - b.lon) + (a.lat - b.lat)*(a.lat - b.lat) <= 100.0) " +
        "SELECT a_c_custkey, b_s_suppkey FROM (" +
        "SELECT a_c_custkey, b_s_suppkey, " +
        "row_number() OVER (PARTITION BY a_c_custkey ORDER BY distance ASC, b_s_suppkey ASC) AS rn " +
        "FROM j) WHERE rn <= 3")
  )
}
