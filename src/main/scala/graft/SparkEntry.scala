package graft

import graft.api.Gis
import graft.pipeline.{Curation, Dedup, Evaluation, EventAnalytics, Graph, MarketBasket, Provenance, Sampling, Similarity, Sketches, Snapshots, TextAnalysis}
import graft.sources.Tables
import graft.sql.{functions => G}
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract: one query per implemented operator from SURVEY.md §2
 * (+ the training-pipeline extensions), each with a DuckDB oracle where the
 * semantics are SQL-expressible.
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

  /** Fixed pivot-column domain of orders.o_orderpriority (TPC-H enum). */
  private val OrderPriorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Contamination probe phrases: in-vocabulary 3-grams plus one guaranteed
    * miss (inner joins drop it identically on both sides). */
  val ContaminationProbes = Seq(
    "fast merge batch", "window spark order", "value table part",
    "quantum flux never")

  /** Synthetic point cloud derived from lineitem (deterministic, mirrors the
    * oracle SQL exactly): lon ∈ [-180, 20), lat ∈ [-85, 85) on a 0.1° grid. */
  private def points(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        ((col("l_partkey") % 3600) / 10.0 - 180.0).as("lon"),
        ((col("l_orderkey") % 1700) / 10.0 - 85.0).as("lat"))

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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- sources / scans (SURVEY §2.1) ----

    // S1/S6: projection + filter pushed to the parquet scan
    "q_scan_project" -> ((s, d) =>
      Tables.table(s, d, "lineitem")
        .filter(col("l_quantity") < 25)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"),
          (col("l_quantity").cast("long")).as("qty"))),

    // S2: geohash key derivation (no SQL oracle — pinned by scalatest vectors)
    "q_geohash_keys" -> ((s, d) =>
      points(s, d).select(col("l_orderkey"), col("l_linenumber"),
        G.geohash_encode(col("lat"), col("lon"), 12).as("geohash"))),

    // geohash-grid density (heatmap tiles): per-cell point counts + the
    // bbox of the points inside, at precision 2 — the figures-rendering
    // aggregation; the oracle re-derives the bit-interleave and truncates
    // to the cell prefix, min/max doubles compare bit-exactly because the
    // same IEEE expression computes lon/lat in both engines
    "q_grid_density" -> ((s, d) =>
      Gis.gridDensity(points(s, d), precision = 2)),

    // S1-S3+S7: full TSV ingest path on the reference's own wifi fixture
    // (geohash-12 keys + dedup; golden counts pinned in GisGoldenSpec).
    // Output is (lon, lat): the geohash-12 dedup keeps exactly one row per
    // distinct raw coordinate on this fixture (1224 == distinct(lon,lat)),
    // so DuckDB's DISTINCT over read_csv is an exact oracle. Key derivation
    // itself is pinned by q_geohash_keys + the scalatest vectors.
    "q_ingest_tsv" -> ((s, _) =>
      Gis.ingestTsv(s, "/root/reference/src/test/resources/wifi_4326.txt")
        .select(col("lon"), col("lat"))),

    // S7: dedup-on-ingest (distinct projection)
    "q_dedup_ingest" -> ((s, d) =>
      Tables.table(s, d, "part").select(col("p_brand"), col("p_type")).distinct()),

    // JSONL ingest with corrupt-line quarantine: the gate round-trips the
    // documents table through a REAL newline-JSON file with every 13th
    // line truncated (the crawl-dump mid-write-kill shape), reads it back
    // PERMISSIVE with an explicit _corrupt column, and reports per-source
    // good counts/sums + the quarantine bucket. Classification is by
    // _corrupt IS NOT NULL (never data-field nullness — PERMISSIVE may
    // partially fill fields parsed before the malformation point); the
    // oracle replays which doc_ids were corrupted, touching no file
    "q_ingest_jsonl" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val j = to_json(struct(col("doc_id"), col("source"), col("n_chars")))
      val lines = docs.select(j.as("__j"), col("doc_id"))
        .select(when(col("doc_id") % 13 === 0,
            expr("substring(__j, 1, length(__j) - 1)"))
          .otherwise(col("__j")).as("value"))
      val path = s"/tmp/graft_jsonl_${Integer.toHexString(d.hashCode)}"
      lines.coalesce(4).write.mode("overwrite").text(path)
      val back = graft.sources.Jsonl.readQuarantined(s, path,
        "doc_id LONG, source STRING, n_chars LONG")
      back.groupBy(when(col("_corrupt").isNotNull, "__corrupt")
          .otherwise(col("source")).as("src"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("_corrupt").isNull, col("n_chars"))), lit(0L))
            .as("sum_chars"))
    }),

    // ---- filters / spatial predicates (§2.2, §2.3) ----

    // F1: key-prefix filter
    "q_prefix_filter" -> ((s, d) =>
      Tables.table(s, d, "customer")
        .filter(col("c_name").startsWith("Customer#000001"))
        .select(col("c_custkey"), col("c_name"))),

    // F2/F5: covers refinement, axis-aligned rectangle
    "q_within_rect" -> ((s, d) =>
      points(s, d)
        .filter(G.st_covers(RectWkt, col("lon"), col("lat")))
        .select(col("l_orderkey"), col("l_linenumber"), col("lon"), col("lat"))),

    // F2 on a non-rectangular convex polygon
    "q_within_poly" -> ((s, d) =>
      points(s, d)
        .filter(G.st_covers(DiamondWkt, col("lon"), col("lat")))
        .select(col("l_orderkey"), col("l_linenumber"), col("lon"), col("lat"))),

    // F2 on the full JTS query-geometry surface (reference
    // WithinQuery.java:184-185 accepts ANY WKT geometry): one covers
    // predicate over a GEOMETRYCOLLECTION whose members contribute by
    // their own dimension — rect interior+boundary, exact on-LINESTRING
    // points, and a no-op POINT. Single scan, no union
    "q_within_collection" -> ((s, d) =>
      points(s, d)
        .filter(G.st_covers(CollectionWkt, col("lon"), col("lat")))
        .select(col("l_orderkey"), col("l_linenumber"), col("lon"), col("lat"))),

    // P3+F1+F2: full filter-and-refine with geohash prefix pruning — result
    // must equal the plain rectangle predicate (pruning is transparent)
    "q_within_pruned" -> ((s, d) => {
      val pts = points(s, d).withColumn("geohash",
        G.geohash_encode(col("lat"), col("lon"), 12))
      Gis.within(pts, RectWkt)
        .select(col("l_orderkey"), col("l_linenumber"), col("lon"), col("lat"))
    }),

    // ---- top-k / aggregation (§2.4) ----

    // A1/A2/A3/A9: global k-nearest-neighbors, Euclidean degrees
    "q_knn" -> ((s, d) => {
      val d2 = (col("lon") + 80.05) * (col("lon") + 80.05) +
        (col("lat") + 15.05) * (col("lat") + 15.05)
      points(s, d)
        .withColumn("d2", d2)
        .orderBy(col("d2").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(20)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("d2") * 400).cast("long").as("d2_q"))
    }),

    // A6: grouped top-N earliest (window rank) over events
    "q_topx" -> ((s, d) =>
      Gis.topX(Tables.table(s, d, "events")
          .withColumn("ts_ms", expr("unix_micros(ts) div 1000")),
        "user_id", "ts_ms", 3, tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("ts_ms"))),

    // A4/A6: same grouped top-N via the bounded-heap TypedImperativeAggregate
    // (partial per-partition heaps + final merge — no window sort)
    "q_topx_agg" -> ((s, d) =>
      Gis.topXAgg(Tables.table(s, d, "events")
          .withColumn("ts_ms", expr("unix_micros(ts) div 1000")),
        "user_id", "ts_ms", "event_id", 3)
        .select(col("user_id"), col("event_id"), col("ts_ms"))),

    // A8: first-N-per-bin (design doc docs/testtopxkeys.md)
    "q_topx_bin" -> ((s, d) =>
      Tables.table(s, d, "orders")
        .withColumn("bin", col("o_orderkey") % 10)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("bin")).orderBy(col("o_orderkey").asc)))
        .filter(col("rn") <= 2)
        .select(col("bin"), col("o_orderkey"))),

    // A8 full doc semantics (testtopxkeys.md:14-52): rowkey-substring bin
    // over a key range, first N per bin in key order, AND the scan's global
    // limit still capping the binned result. Rowkey = c_name; bin = the
    // tens digit (byte offset 16); doc's N=1/2/3 examples pinned in
    // GisGoldenSpec.
    "q_topx_bin_limit" -> ((s, d) =>
      Gis.firstNPerBin(Tables.table(s, d, "customer"), "c_name",
          offset = 16, length = 1, n = 2,
          startKey = "Customer#000000", endKey = "Customer#000001", limit = 15)
        .select(col("c_custkey"), col("c_name"))),

    // A7: distinct-group counting
    "q_count_distinct" -> ((s, d) =>
      Tables.table(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))),

    // Partial+final hash aggregate (TPC-H Q1 shape; exact cents)
    "q_agg_q1" -> ((s, d) =>
      Tables.table(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long") *
            round((lit(1.0) - col("l_discount")) * 100).cast("long")).as("revenue_e4"),
          count(lit(1)).as("n_rows"))),

    // ---- joins (§2.5 — absent in reference, required surface) ----

    "q_join_bcast" -> ((s, d) => {
      val orders = Tables.table(s, d, "orders")
      val cust = Tables.table(s, d, "customer")
      val nation = Tables.table(s, d, "nation")
      val region = Tables.table(s, d, "region")
      orders
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
    }),

    "q_join_semi" -> ((s, d) => {
      val cust = Tables.table(s, d, "customer")
      val orders = Tables.table(s, d, "orders")
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    "q_join_anti" -> ((s, d) => {
      val cust = Tables.table(s, d, "customer")
      val bigOrders = Tables.table(s, d, "orders").filter(col("o_totalprice") > 300000.0)
      cust.join(bigOrders, cust("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // full outer join: customers without matching big orders AND big orders
    // whose customers fall outside the filtered customer segment both survive
    "q_join_full" -> ((s, d) => {
      val seg = Tables.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      val big = Tables.table(s, d, "orders")
        .filter(col("o_totalprice") > 400000.0)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_big"))
      seg.join(big, seg("c_custkey") === big("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_custkey"), col("n_big"))
    }),

    // as-of join: each error event → the latest click by the same user at or
    // before it (union-merge implementation, one shuffle)
    "q_join_asof" -> ((s, d) => {
      val e = Tables.table(s, d, "events")
        .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_ms"))
        .agg(max(col("event_id")).as("event_id"))
      graft.api.AsofJoin.asofJoin(errors, clicks,
        keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
        rightPayload = Seq("event_id"), rightIdCol = "event_id")
        .select(col("event_id"), col("asof_event_id"))
    }),

    // the tolerance-bounded as-of (pandas merge_asof tolerance): same
    // error→click fixture, match only when the click is no more
    // than ~28 h older (100M ms — the corpus median gap is ~34 h, so the
    // tolerance splits matches near the middle at every scale; 60 s kept
    // almost nothing) — stale matches drop (inner)
    "q_join_asof_tol" -> ((s, d) => {
      val e = Tables.table(s, d, "events")
        .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_ms"))
        .agg(max(col("event_id")).as("event_id"))
      graft.api.AsofJoin.asofJoinTolerance(errors, clicks,
        keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
        rightPayload = Seq("event_id"), rightIdCol = "event_id",
        toleranceTs = 100000000L)
        .select(col("event_id"), col("asof_event_id"))
    }),

    // big-big sort-merge join (merge hint pins the strategy)
    "q_join_sortmerge" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem")
      val o = Tables.table(s, d, "orders").hint("merge")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"), count(lit(1)).as("n"))
    }),

    // equi+range join: lineitems shipped within 90 days of their order date
    "q_join_range" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem")
      val o = Tables.table(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") >= o("o_orderdate") &&
          li("l_shipdate") <= date_add(o("o_orderdate"), 90))
        .select(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- spatial joins (generalization of the reference's single-point KNN) ----

    "q_distance_join" -> ((s, d) => {
      val a = custPoints(s, d)
      val b = suppPoints(s, d)
      val d2 = (col("a_lon") - col("b_lon")) * (col("a_lon") - col("b_lon")) +
        (col("a_lat") - col("b_lat")) * (col("a_lat") - col("b_lat"))
      graft.api.SpatialJoin.distanceJoin(a, b, radius = 5.0)
        .select(col("a_c_custkey"), col("b_s_suppkey"),
          round(d2 * 100).cast("long").as("d2_centi"))
    }),

    // bounded-heap variant: partial per-partition top-k heaps, no window
    // sort of the pair stream (identical result to the window formulation —
    // pinned by the GisGoldenSpec differential)
    "q_knn_join" -> ((s, d) =>
      graft.api.SpatialJoin.knnJoinAgg(custPoints(s, d), suppPoints(s, d),
          k = 3, radius = 10.0, aKeyCol = "c_custkey", bIdCol = "s_suppkey")
        .select(col("a_c_custkey"), col("b_s_suppkey"))),

    // bucketized interval-lookup join (balance → tier): hash join on the
    // bucket key instead of Spark's O(n·m) BroadcastNestedLoopJoin for
    // the same predicate; the oracle runs the raw range join
    "q_join_interval" -> ((s, d) => {
      val tiers = s.range(-2, 20).select(col("id").as("tier"),
        (col("id") * 500.0).as("lo"), ((col("id") + 1) * 500.0).as("hi"))
      graft.api.IntervalJoin.lookup(
          Tables.table(s, d, "customer").select(col("c_custkey"), col("c_acctbal")),
          "c_acctbal", tiers, bucketWidth = 500.0)
        .select(col("c_custkey"), col("tier"))
    }),

    // PassJoin edit-distance self-join (VLDB'12 pigeonhole segment
    // blocking + thresholded levenshtein verify) over distinct part
    // names; the oracle is the brute-force quadratic on the same table
    "q_join_fuzzy" -> ((s, d) => {
      val names = Tables.table(s, d, "part")
        .groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
        .select(col("id"), col("p_name").as("text"))
      graft.api.FuzzyJoin.editDistanceSelfJoin(names, tau = 2)
    }),

    // INCREMENTAL fuzzy matching: odd-id names probe a persisted
    // even-id-name segment index — the edit-distance analog of
    // q_dedup_incremental; the oracle is the brute-force cross product
    "q_join_fuzzy_incr" -> ((s, d) => {
      val names = Tables.table(s, d, "part")
        .groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
        .select(col("id"), col("p_name").as("text"))
      val path = s"/tmp/graft_edit_index_${Integer.toHexString(d.hashCode)}"
      graft.api.FuzzyJoin.writeEditIndex(
        names.filter(pmod(col("id"), lit(2)) === 0), path, tau = 2)
      graft.api.FuzzyJoin.editDistanceAgainstIndex(
        s, path, names.filter(pmod(col("id"), lit(2)) === 1), tau = 2)
    }),

    // skew-resilient two-stage salted aggregation
    "q_salted_count" -> ((s, d) =>
      graft.pipeline.Skew.saltedCount(
        Tables.table(s, d, "events"), "event_type", saltFrom = "event_id")),

    // ---- set ops / sort / window / rollup ----

    "q_union_dedup" -> ((s, d) => {
      val part = Tables.table(s, d, "part")
      part.filter(col("p_size") < 10).select(col("p_partkey"), col("p_name"))
        .union(part.filter(col("p_retailprice") < 1200.0)
          .select(col("p_partkey"), col("p_name")))
        .distinct()
    }),

    // INTERSECT (distinct semantics): customers active in both price bands
    "q_intersect" -> ((s, d) => {
      val o = Tables.table(s, d, "orders")
      o.filter(col("o_totalprice") > 200000.0).select(col("o_custkey"))
        .intersect(o.filter(col("o_totalprice") < 50000.0).select(col("o_custkey")))
    }),

    // EXCEPT (distinct semantics): ordering customers with no big order
    "q_except" -> ((s, d) => {
      val o = Tables.table(s, d, "orders")
      o.select(col("o_custkey"))
        .except(o.filter(col("o_totalprice") > 300000.0).select(col("o_custkey")))
    }),

    // window-function family over one partition spec: offsets (lag/lead),
    // ranks (rank/dense_rank), buckets (ntile) — money as integer cents
    "q_window_funcs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      Tables.table(s, d, "customer")
        .withColumn("bal_cents", round(col("c_acctbal") * 100).cast("long"))
        .select(col("c_custkey"), col("c_nationkey"), col("bal_cents"),
          lag(col("c_custkey"), 1).over(w).as("prev_cust"),
          lead(col("c_custkey"), 1).over(w).as("next_cust"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"))
    }),

    "q_sort_limit" -> ((s, d) =>
      Tables.table(s, d, "part")
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .limit(50)
        .select(col("p_partkey"), col("p_name"),
          round(col("p_retailprice") * 100).cast("long").as("price_cents"))),

    "q_window_running" -> ((s, d) =>
      Tables.table(s, d, "orders")
        .withColumn("running_cents",
          sum(round(col("o_totalprice") * 100).cast("long")).over(
            Window.partitionBy(col("o_custkey"))
              .orderBy(col("o_orderkey").asc)
              .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("o_custkey"), col("o_orderkey"), col("running_cents"))),

    "q_cube" -> ((s, d) => {
      val cust = Tables.table(s, d, "customer")
      val nation = Tables.table(s, d, "nation")
      cust.join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"))
    }),

    "q_rollup" -> ((s, d) => {
      val cust = Tables.table(s, d, "customer")
      val nation = Tables.table(s, d, "nation")
      val region = Tables.table(s, d, "region")
      cust
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
    }),

    // explicit grouping-set lattice (rollup/cube generalization)
    "q_grouping_sets" -> ((s, d) => {
      val cust = Tables.table(s, d, "customer")
      val nation = Tables.table(s, d, "nation")
      cust.join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("n_name"), col("c_mktsegment")), Seq(col("n_name")), Seq()),
          col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"))
    }),

    "q_pivot" -> ((s, d) =>
      Tables.table(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", OrderPriorities)
        .agg(count(lit(1)))
        .select(col("o_orderstatus") +:
          OrderPriorities.map(p => coalesce(col(s"`$p`"), lit(0L)).as(p)): _*)),

    // exact grouped percentiles (interpolated); quantities are small
    // integers and the 0.25-step ranks are dyadic, so the interpolation is
    // FP-exact and engine-independent
    "q_percentile" -> ((s, d) =>
      Tables.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"))),

    // ---- training-pipeline: dedup / similarity / text / multimodal ----

    "q_sample_group" -> ((s, d) =>
      Sampling.perGroupDeterministic(Tables.table(s, d, "orders"),
          Seq("o_orderpriority"), "o_orderkey", 200)
        .select(col("o_orderkey"), col("o_orderpriority"))),

    "q_sample_frac" -> ((s, d) =>
      Sampling.deterministicFraction(Tables.table(s, d, "orders"),
          "o_orderkey", 0.1)
        .select(col("o_orderkey"))),

    // deterministic leakage-free train/val/test split, scan-local
    "q_split" -> ((s, d) =>
      Sampling.deterministicSplit(Tables.table(s, d, "documents"), "doc_id",
          SplitWeights)
        .select(col("doc_id"), col("split"))),

    // deterministic 5-fold CV assignment: 32-bit md5 prefix mod k, a pure
    // function of the id (stable under corpus growth — leakage-free CV)
    "q_folds" -> ((s, d) =>
      Sampling.deterministicFolds(Tables.table(s, d, "documents"), "doc_id", k = 5)
        .select(col("doc_id"), col("fold"))),

    // composed curation chain (normalize → exact-dedup keep → quality
    // floor → split; near-dup drop is gate-covered by q_dedup_clusters and
    // exercised in CurationE2ESpec): the oracle re-derives the WHOLE chain
    // in one SQL — cross-operator composition checked cross-engine, not
    // just each stage alone
    "q_curate" -> ((s, d) => {
      val curated = Curation.curate(Tables.table(s, d, "documents"),
        Curation.Config(dropNearDups = false, splits = SplitWeights))
      curated.select(col("doc_id"),
        round(col("quality_score") * 1000).cast("long").as("quality_milli"),
        col("split"))
    }),

    // deterministic data mixing: per-source keep fractions, scan-local
    "q_sample_mix" -> ((s, d) =>
      Sampling.deterministicMix(Tables.table(s, d, "documents"),
          "source", "doc_id", MixFractions.toMap)
        .select(col("doc_id"), col("source"))),

    // token-budget sampling: keep docs per source in md5(id) order until
    // the source's token budget runs out (exclusive-cumsum contract)
    "q_sample_budget" -> ((s, d) =>
      Sampling.sampleByTokenBudget(Tables.table(s, d, "documents"),
        BudgetTokens.toMap)),

    // epoch-based upsampling: per-source multipliers n + f emit n copies
    // plus a deterministic md5-threshold extra epoch for fraction f
    "q_sample_epochs" -> ((s, d) =>
      Sampling.mixWithEpochs(Tables.table(s, d, "documents"),
        EpochFactors.toMap)),

    // proportional stratified sampling: per-source quota floor(frac*n+0.5)
    // with a minPerGroup floor, chosen in (md5(id), id) order
    "q_sample_strat" -> ((s, d) =>
      Sampling.proportionalStratified(Tables.table(s, d, "documents"),
          Seq("source"), "doc_id", 0.15, minPerGroup = 2)
        .select(col("doc_id"), col("source"))),

    // deterministic WEIGHTED sampling (integer A-Res): 5 docs per source
    // by ascending priority h div w — h = 60-bit md5(id) prefix, w =
    // n_chars div 100 + 1 (1..6 at every scale, probed) — so longer docs
    // win slots ∝ length while the draw replays exactly (both operands
    // non-negative: Spark div == DuckDB //)
    "q_sample_weighted" -> ((s, d) =>
      Sampling.weightedSample(
          Tables.table(s, d, "documents")
            .withColumn("w", expr("n_chars div 100 + 1")),
          Seq("source"), "doc_id", "w", 5)
        .select(col("source"), col("doc_id"), col("w"))),

    // deterministic global training order: ordinal of (md5(id), id) in
    // the corpus total order, computed via order-preserving hash buckets
    // + broadcast offsets (never a single-partition window); the oracle
    // is the direct global row_number
    "q_train_order" -> ((s, d) =>
      Sampling.globalTrainingOrder(Tables.table(s, d, "documents"))
        .select(col("doc_id"), col("ordinal"))),

    // temperature (α=1/2) source rebalancing over the deterministically
    // skewed mixture — integer isqrt weights, floor quotas, (md5(id), id)
    // rank: the oracle replays mix → count → isqrt → quota → rank with the
    // same integer arithmetic end to end
    "q_sample_temperature" -> ((s, d) =>
      Sampling.temperatureResample(
          Sampling.deterministicMix(Tables.table(s, d, "documents"),
            "source", "doc_id", MixFractions.toMap),
          totalTarget = 24L)
        .select(col("doc_id"), col("source"))),

    // CDC snapshot apply: corpus version N+1 from a changeset with upserts
    // and deletion tombstones (deterministically derived from doc_id)
    "q_cdc_apply" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val changes = docs
        .filter(pmod(col("doc_id"), lit(3)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("op",
          when(pmod(col("doc_id"), lit(7)) === 0, "delete").otherwise("upsert"))
        .withColumn("n_chars", col("n_chars") + 1000000L)
      graft.pipeline.Snapshots.applyChanges(docs, changes, Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // snapshot DIFF over the cdc fixture widened with genuinely-new keys
    // (doc_id + 10,000,000 for doc_id % 11 == 0) so added, removed, and
    // changed all appear; payload digests use the fixed U+0001/U+0002
    // md5 recipe the oracle recomputes byte-identically via chr(1)/chr(2)
    "q_snapshot_diff" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val changes = docs
        .filter(pmod(col("doc_id"), lit(3)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("op",
          when(pmod(col("doc_id"), lit(7)) === 0, "delete").otherwise("upsert"))
        .withColumn("n_chars", col("n_chars") + 1000000L)
      val inserts = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("op", lit("upsert"))
      val next = graft.pipeline.Snapshots.applyChanges(
        docs, changes.unionByName(inserts), Seq("doc_id"))
      graft.pipeline.Snapshots.diff(docs, next, Seq("doc_id"),
          Seq("source", "n_chars"))
        .select(col("doc_id"), col("change"), col("old_md5"), col("new_md5"))
    }),

    "q_vocab_df" -> ((s, d) =>
      TextAnalysis.vocabStats(Tables.table(s, d, "documents"))),

    // one-pass Space-Saving heavy hitters over raw tokens: the shuffle
    // carries capacity-bounded sketches, never a (token, count) stream;
    // capacity 256 ≥ this corpus's 31-token vocabulary, so no eviction
    // fires and the sketch is EXACT (err 0) — the GROUP BY oracle holds;
    // the approximate regime's bounds are spec-tested
    "q_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(
        Tables.table(s, d, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("token")),
        col("token"), capacity = 256, k = 20)),

    // corpus-level frequent-PHRASE mining (boilerplate phrase lists, the
    // RefinedWeb "most common 3-grams" report): Space-Saving over the
    // ordered gram stream. Capacity 32768 ≥ 31³ — the gate corpus' fixed
    // 31-word vocabulary bounds distinct 3-grams COMBINATORIALLY, so the
    // sketch is in its exact regime at every gate scale and the GROUP BY
    // oracle is exact with err 0
    "q_heavy_ngrams" -> ((s, d) =>
      TextAnalysis.heavyHitters(
        Tables.table(s, d, "documents")
          .select(explode(TextAnalysis.tokenNgramsAll(col("text"), 3)).as("gram")),
        col("gram"), capacity = 32768, k = 25)),

    // per-source corpus report: integer counts/totals in ONE map-side-
    // combined aggregate — the pass that brackets every curation stage
    "q_corpus_stats" -> ((s, d) =>
      Curation.corpusStats(Tables.table(s, d, "documents"))),

    // per-source lexical diversity: type/token/hapax counts + TTR and
    // hapax shares in permille — the vocabulary-health pass next to
    // corpus_stats; the token stream collapses to (source, type) rows
    // map-side before any shuffle
    "q_lexical_stats" -> ((s, d) =>
      TextAnalysis.lexicalStats(Tables.table(s, d, "documents"))),

    // vocabulary drift between two snapshots: even docs = old, odd = new
    // with a PLANTED drift term on doc_id % 10 = 5 (the spam-infusion /
    // template-change shape) — top-20 tokens by |share delta| in permille;
    // full-outer so appearing/vanishing vocabulary reports a 0 side
    "q_vocab_drift" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val oldDf = docs.filter(col("doc_id") % 2 === 0)
      val newDf = docs.filter(col("doc_id") % 2 === 1)
        .withColumn("text", when(col("doc_id") % 10 === 5,
          concat(col("text"), lit(" driftterm driftterm")))
          .otherwise(col("text")))
      TextAnalysis.vocabDrift(oldDf, newDf, topK = 20)
    }),

    // per-source distinctive terms by integer lift (c-TF-IDF report):
    // top-5 tokens whose in-group share most exceeds the corpus share —
    // overflow-safe two-stage permille arithmetic, (grp, token, count)
    // is the widest thing shuffled
    "q_source_terms" -> ((s, d) =>
      TextAnalysis.distinctiveTerms(Tables.table(s, d, "documents"),
        topK = 5)),

    // per-source character-class composition (charset/script dashboard):
    // disjoint integer class counts summing to total_chars, shares in
    // permille — encoding corruption and script mixes show up here first
    // per-DOC script mix over a planted-tail fixture: the corpus is
    // all-ASCII (checked), so doc_id % 4 == 0 appends a CJK tail — short
    // Latin docs flip to mixed, long ones stay under the 5% floor, and
    // the other docs stay pure; all counts integer, flag = cross-mult
    "q_script_mix" -> ((s, d) =>
      graft.pipeline.Curation.scriptMix(
        Tables.table(s, d, "documents").withColumn("text",
          concat(col("text"),
            when(pmod(col("doc_id"), lit(4)) === 0,
              lit(" " + CjkTail)).otherwise(lit("")))))
        .select(col("doc_id"), col("total_chars"), col("n_latin"),
          col("n_non_ascii"), col("latin_permille"),
          col("non_ascii_permille"), col("is_mixed"))),

    "q_script_ratio" -> ((s, d) =>
      Curation.scriptRatio(Tables.table(s, d, "documents"))),

    // C4-style bad-word/phrase blocklist report: word-boundary greedy
    // occurrence counts over the [a-z]+ token stream via the double-space
    // sentinel rendering — two single words, one two-word phrase that
    // hits (corpus bigrams exist), one entry that never hits (the
    // zero/clean path); all-integer, scan-local, zero shuffles
    "q_blocklist" -> ((s, d) =>
      Curation.blocklistStats(Tables.table(s, d, "documents"),
        Seq("slow", "big table", "hash value", "forbidden"))),

    // log2-bucketed length histogram: bucket = bit length of the token
    // count (ilog2 idiom — pure integer), NULL texts in bucket -1; the
    // distribution report behind packing/chunking budget choices
    "q_length_histogram" -> ((s, d) =>
      Curation.lengthHistogram(Tables.table(s, d, "documents"))),

    // tokenizer/vocabulary coverage: per-doc OOV counts against the
    // corpus-derived top-200 vocab — the LM cost machinery with costs 0
    // and OOV cost 1, so the scorer IS the counter; the oracle re-derives
    // the vocab and counts misses independently
    "q_vocab_coverage" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.oovState(
        TextAnalysis.zipfVocab(docs, "text", topV = 200))
      val toks = split(trim(col("text")), "\\s+")
      docs.select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.lmSurprisal(toks, st).as("n_oov"))
        .withColumn("oov_permille", expr("(n_oov * 1000) div n_tokens"))
    }),

    // fastText-style hashed linear quality classifier: integer weights in
    // a broadcast table, features = unigrams + adjacent bigrams, bucket =
    // first 32 md5 bits mod B. The gate's weight table is a pure function
    // of the bucket id, so the oracle re-derives every weight AND every
    // bucket (md5-hex arithmetic) — it replays the whole scorer, not a
    // stored model
    "q_quality_classifier" -> ((s, d) => {
      val st = TextAnalysis.classifierState(s,
        Array.tabulate(4096)(b => (b % 21).toLong - 10L), bias = 5L)
      Tables.table(s, d, "documents").select(col("doc_id"),
          TextAnalysis.classifierScore(split(trim(col("text")), "\\s+"), st)
            .as("score"))
        .withColumn("label", when(col("score") >= 0L, 1L).otherwise(0L))
    }),

    // DSIR-style importance scoring: hashed n-gram bucket counts over a
    // target subset vs the raw corpus, integer bit-cost log-ratio weights
    // (ilog2(nt+1) − ilog2(nr+1)), scan-local scoring. Counting is the
    // FUSED single-scan path (target ⊂ raw ⇒ one conditional aggregate,
    // not two corpus reads). The oracle rebuilds buckets, both count
    // tables, the weights, AND the per-doc sums
    "q_importance" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.importanceStateFused(
        docs, pmod(col("doc_id"), lit(10)) === 0, numBuckets = 4096)
      docs.select(col("doc_id"),
        TextAnalysis.classifierScore(split(trim(col("text")), "\\s+"), st)
          .as("imp_score"))
    }),

    // CCNet-style LM quality scoring with an integer Zipf-surprisal LM
    // derived from the corpus itself: total/mean bits per doc, exact in
    // any engine (floor(log2 rank) is bit arithmetic, not a float log)
    "q_lm_surprisal" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.lmStateFromVocab(
        TextAnalysis.zipfVocab(docs, "text", topV = 200))
      val toks = split(trim(col("text")), "\\s+")
      docs.select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.lmSurprisal(toks, st).as("surprisal_bits"))
        .withColumn("mean_centibits",
          expr("(surprisal_bits * 100) div n_tokens"))
    }),

    // bigram-backoff LM (one rung up the KenLM ladder): in-table pairs pay
    // the bigram Zipf cost, others back off to unigram + a fixed integer
    // penalty; first token pays unigram. The oracle re-derives BOTH vocab
    // tables and replays the backoff CASE per (lag, token) pair
    "q_lm_bigram" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.bigramLmStateFromVocab(
        TextAnalysis.zipfVocab(docs, "text", topV = 200),
        TextAnalysis.zipfBigramVocab(docs, "text", topB = 200),
        backoffCost = 3L)
      val toks = split(trim(col("text")), "\\s+")
      docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        TextAnalysis.lmSurprisalBigram(toks, st).as("surprisal_bits"))
    }),

    // CCNet-style per-language perplexity terciles (Wenzek et al. 2020
    // §4.3): the lm_surprisal chain scores fluency in integer centibits
    // per token; NTILE(3) over the total (score, doc_id) order per lang
    // labels head/middle/tail. The oracle re-derives the WHOLE LM chain
    // and replays the same NTILE over the same total order.
    "q_ccnet_buckets" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.lmStateFromVocab(
        TextAnalysis.zipfVocab(docs, "text", topV = 200))
      val toks = split(trim(col("text")), "\\s+")
      val scored = docs.select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.lmSurprisal(toks, st).as("surprisal_bits"))
        .withColumn("mean_centibits",
          expr("(surprisal_bits * 100) div n_tokens"))
      graft.pipeline.Curation.perplexityBuckets(
          scored, "lang", "mean_centibits", "doc_id", nBuckets = 3)
        .select(col("doc_id"), col("lang"), col("mean_centibits"),
          col("bucket"), col("bucket_label"))
    }),

    "q_contamination" -> ((s, d) =>
      TextAnalysis.contaminationProbes(Tables.table(s, d, "documents"),
        ContaminationProbes)),

    // n-gram-level contamination: training docs sharing token 3-grams with
    // a deterministic eval slice (doc_id % 97 == 0); string-exact operator
    "q_contamination_ngram" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      TextAnalysis.contaminationNgrams(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 3)
    }),

    // TF-IDF keyword extraction; ratio-IDF keeps scores IEEE-exact across
    // engines (see TextAnalysis.tfidfTopTerms scaladoc)
    "q_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.table(s, d, "documents"))),

    // BM25 retrieval scoring (ratio Robertson idf — transcendental-free,
    // see TextAnalysis.bm25): top-20 docs for a 3-term query; scores are
    // bit-exact cross-engine because every op is an IEEE scalar performed
    // in the identical order, incl. the sorted-term fold
    "q_bm25" -> ((s, d) =>
      TextAnalysis.bm25(Tables.table(s, d, "documents"),
        Seq("merge", "window", "table"), topN = 20)),

    // two-stage hybrid retrieval (retrieve-then-rerank cascade): BM25
    // lexical top-30 candidate generation → exact cosine re-rank against
    // the query embedding, top-10 ids. Candidates are bounded so the
    // rerank join broadcasts against the embedding table scan; ids-only
    // output (the rank-boundary score gaps dwarf float noise, the
    // q_embed_topk precedent)
    "q_hybrid_rerank" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val embs = Tables.table(s, d, "embeddings")
      val lexical = TextAnalysis.bm25(docs,
        Seq("merge", "window", "table"), topN = 30)
      val q = embs.filter(col("vec_id") === 0L).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val cands = embs.select(col("vec_id").as("doc_id"), col("embedding"))
        .join(broadcast(lexical.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      Similarity.cosineTopK(cands, q, 10, idCol = "doc_id")
        .select(col("doc_id"))
    }),

    // ranked-retrieval evaluation of the BM25 results against a derived
    // relevance truth (docs with >= 2 distinct matched terms): integer
    // recall/hits/first-rank counters — the measurement half of every
    // retriever here; rank is a 20-row post-limit window (not corpus-wide)
    "q_retrieval_eval" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val terms = Seq("merge", "window", "table")
      val res = TextAnalysis.bm25(docs, terms, topN = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      val toks = split(trim(col("text")), "\\s+")
      val truth = docs.filter(
          size(array_distinct(filter(toks, t => t.isInCollection(terms)))) >= 2)
        .select(col("doc_id"))
      graft.pipeline.Evaluation.retrievalEval(
        res.select(col("doc_id"), col("rank")), truth)
    }),

    // binary-classifier evaluation (the quality-filter calibration
    // report): label = doc contains the token "slow", score = n_chars,
    // threshold 300 — confusion counts, P/R/F1 permille, and EXACT
    // tie-corrected Mann–Whitney ROC-AUC carried as 2U integers; the
    // corpus collapses to per-distinct-score tallies (≤65536, cap-thrown)
    // before the one bounded cumsum window
    "q_binary_eval" -> ((s, d) => {
      val toks = array_remove(
        split(lower(coalesce(col("text"), lit(""))), "[^a-z]+"), "")
      // scattered input (r14): the tokenize-and-label pass is the one
      // dominant full-corpus expression stage — see Tables.tableScattered
      val scored = Tables.tableScattered(s, d, "documents").select(
        when(array_contains(toks, "slow"), 1L).otherwise(0L).as("label"),
        col("n_chars").cast("long").as("score"))
      Evaluation.binaryEval(scored, "label", "score", threshold = 300)
    }),

    // the same classifier eval PER FOLD (md5 5-fold assignment): the
    // cross-validation report — per-fold confusion + P/R/F1 + exact AUC,
    // cumsum window partitioned by fold
    "q_binary_eval_folds" -> ((s, d) => {
      val toks = array_remove(
        split(lower(coalesce(col("text"), lit(""))), "[^a-z]+"), "")
      val scored = Sampling.deterministicFolds(
        Tables.tableScattered(s, d, "documents"), "doc_id", k = 5)
        .select(col("fold"),
          when(array_contains(toks, "slow"), 1L).otherwise(0L).as("label"),
          col("n_chars").cast("long").as("score"))
      Evaluation.binaryEvalGrouped(scored, Seq("fold"), "label", "score",
        threshold = 300)
    }),

    // per-source class balance of the language label: majority share +
    // exact-integer Gini impurity — the label-QC pass before stratified
    // splits (Gini, not entropy: rational, so hash-exact cross-engine)
    "q_class_balance" -> ((s, d) =>
      Evaluation.classBalance(Tables.table(s, d, "documents"),
        Seq("source"), "lang")),

    // Spearman rank correlation per source between two document scores
    // (char length vs whitespace token count) — the do-two-quality-
    // scorers-agree QC gate; tie-averaged ranks doubled to stay integer,
    // exact-isqrt denominator
    "q_rank_corr" -> ((s, d) => {
      val toks = size(array_remove(
        split(trim(coalesce(col("text"), lit(""))), "\\s+"), "")).cast("long")
      val scored = Tables.table(s, d, "documents")
        .filter(col("n_chars").isNotNull)
        .select(col("source"), col("doc_id"), col("n_chars").as("x"), toks.as("y"))
      // sampleIdCol makes the operator self-sufficient past the 6,000-row
      // group cap (deterministic hash-order sample, oracle-replayable);
      // at gate scales every group is under the cap, so the sampling
      // window keeps all rows and the result is cap-free-identical
      Evaluation.rankCorrelation(scored, Seq("source"), "x", "y",
        sampleIdCol = Some("doc_id"))
    }),

    // reliability bins for the same (label, score) pairs: 10 equal-width
    // integer bins over the observed [min, max], observed positive rate
    // + mean score per bin — binaryEval's calibration-plot data
    "q_calibration" -> ((s, d) => {
      val toks = array_remove(
        split(lower(coalesce(col("text"), lit(""))), "[^a-z]+"), "")
      val scored = Tables.table(s, d, "documents").select(
        when(array_contains(toks, "slow"), 1L).otherwise(0L).as("label"),
        col("n_chars").cast("long").as("score"))
      Evaluation.calibrationBins(scored, "label", "score", bins = 10)
    }),

    // grouped exact lower weighted median (weight = quantity): the
    // robust center under unequal row mass; corpus collapses to
    // per-(group, value) sums before the one window
    "q_weighted_median" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem").select(
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        col("l_quantity").cast("long").as("qty"))
      Sketches.weightedMedian(li, Seq("l_returnflag"), "price_cents", "qty")
    }),

    // the sort-free scale twin: the SAME lower weighted median located
    // by weighted histogram refinement (~8 counting scans, no window,
    // no sort) — the path when groups are few and the per-group window
    // would collapse parallelism. Same oracle as q_weighted_median.
    "q_weighted_median_refine" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem").select(
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        col("l_quantity").cast("long").as("qty"))
      Sketches.weightedMedianRefine(li, "l_returnflag", "price_cents", "qty")
    }),

    // OHLC fixed-bucket downsample (daily candles per event type):
    // open/close by (ts, event_id) struct min/max — ONE hash aggregate,
    // no window sort
    "q_ohlc" -> ((s, d) =>
      EventAnalytics.downsampleOhlc(Tables.table(s, d, "events"),
        keyCol = "event_type", bucketSeconds = 86400L)),

    // time-weighted average per event type (step-function integral over
    // the irregular timeline; money as cents·µs integers). Since r12 the
    // DEFAULT twap is the bucketed scale-safe form (the plain per-key
    // lead window measured 8.3× for 10× data at sf10 on 5 keys; the
    // bucketed plan probed 1.24× — twapPlain remains as parity mode)
    "q_twap" -> ((s, d) =>
      EventAnalytics.twap(Tables.table(s, d, "events"),
        keyCol = "event_type")),

    // the explicitly-bucketed form (now also twap's implementation):
    // per-(key, day-bucket) local windows + exact boundary stitching
    // keep window partitions bounded by the bucket width at any key
    // cardinality. Same oracle as q_twap.
    "q_twap_salted" -> ((s, d) =>
      EventAnalytics.twapSalted(Tables.table(s, d, "events"),
        keyCol = "event_type", bucketSeconds = 86400L)),

    // one-sided CUSUM drift alarm over daily value sums per event type
    // (target = the key's own mean bucket; h = 20% of target) — the
    // ingest-monitoring change-point gate; the recursion replays as a
    // recursive CTE in DuckDB
    "q_cusum" -> ((s, d) =>
      EventAnalytics.cusum(Tables.table(s, d, "events"),
        keyCol = "event_type", bucketSeconds = 86400L,
        slackPermille = 0, hPermille = 200)),

    // grouped integer OLS trend over the daily value series per event
    // type (day index re-origined to each key's min) — the drift-TREND
    // complement of q_cusum's change-point alarm
    "q_trend" -> ((s, d) => {
      val daily = Tables.table(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
      EventAnalytics.groupedTrend(daily, "event_type", "day", "y")
    }),

    // contrastive hard-negative mining over the embedding table: per
    // anchor (vec_id < 5) the nearest same-label vector (positive) and
    // nearest other-label vector (hard negative), ids only — the
    // DPR/Sentence-BERT batch-construction step
    "q_hard_negatives" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      Similarity.hardNegatives(embs.filter(col("vec_id") < 5), embs)
    }),

    // pairwise-preference leaderboard with the Wilson z=2 lower bound
    // (sort-by-LCB, the small-sample-robust ranking rule): comparisons
    // derived from events — items a/b from event_id digits, winner by a
    // deterministic integer rule so every item carries a distinct
    // win/loss mix; all arithmetic integer incl. the exact isqrt
    "q_pref_winrate" -> ((s, d) => {
      val e = Tables.table(s, d, "events").select(
        pmod(col("event_id"), lit(13L)).as("a"),
        (lit(1L) + pmod(expr("event_id div 13"), lit(12L))).as("b"),
        col("event_id"))
        .filter(col("a") =!= col("b"))
      val pick = pmod(col("event_id"), col("a") + col("b") + lit(2L)) <= col("a")
      val pairs = e.select(
        when(pick, col("a")).otherwise(col("b")).as("winner"),
        when(pick, col("b")).otherwise(col("a")).as("loser"))
      graft.pipeline.Preference.leaderboard(pairs)
    }),

    // Cohen's kappa between two synthetic quality raters (char-length
    // bucket vs token-count bucket over the same 0..4 domain) — the
    // label-QC agreement gate; one bounded label-pair groupBy
    "q_kappa" -> ((s, d) => {
      val toks = size(array_remove(
        split(trim(coalesce(col("text"), lit(""))), "\\s+"), "")).cast("long")
      val labels = Tables.table(s, d, "documents")
        .filter(col("n_chars").isNotNull)
        .select(least(expr("n_chars div 150"), lit(4L)).as("rater_a"),
          toks.as("__t"))
        .withColumn("rater_b", least(expr("__t div 25"), lit(4L)))
      graft.pipeline.Preference.agreementKappa(labels, "rater_a", "rater_b")
    }),

    // largest-remainder apportionment of a fixed token budget across
    // sources (allocations sum to exactly the budget; prime budget so
    // remainders are non-trivial)
    "q_apportion" -> ((s, d) => {
      val w = Tables.table(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      Sampling.apportion(w, "source", "n_docs", budget = 1000003L)
    }),

    // EQUAL-FREQUENCY reliability bins for the same pairs — the standard
    // calibration practice on skewed scores (each bin ~n/10 examples);
    // edges = exact k-th values via the shared-scan refinement, no sort
    "q_calibration_quantile" -> ((s, d) => {
      val toks = array_remove(
        split(lower(coalesce(col("text"), lit(""))), "[^a-z]+"), "")
      val scored = Tables.table(s, d, "documents").select(
        when(array_contains(toks, "slow"), 1L).otherwise(0L).as("label"),
        col("n_chars").cast("long").as("score"))
      Evaluation.calibrationBinsQuantile(scored, "label", "score", bins = 10)
    }),

    // overlapping fixed-window chunking (stride < size)
    "q_chunk" -> ((s, d) =>
      TextAnalysis.chunk(Tables.table(s, d, "documents"), size = 256, stride = 192)),

    // deterministic sequence packing by cumulative token budget per source
    "q_pack" -> ((s, d) =>
      TextAnalysis.packBudgeted(Tables.table(s, d, "documents"),
        groupCols = Seq("source"), budgetTokens = 512L)),

    // the same packing denominated in REAL BPE tokens (the pluggable
    // tokenCount hook): the oracle replays the full merge loop per doc,
    // then the identical exclusive-cumsum pack arithmetic
    "q_pack_bpe" -> ((s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      TextAnalysis.packBudgeted(Tables.table(s, d, "documents"),
        groupCols = Seq("source"), budgetTokens = 512L,
        tokenCount = t => coalesce(TextAnalysis.tokenCountBpe(t, st), lit(0)))
    }),

    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.table(s, d, "documents"), "doc_id", Seq("text"))),

    // cross-source exact-dup overlap matrix over a doc_id-derived
    // collision fixture (the corpus has no natural exact dups at gate
    // SF): every 5th doc's text collapses to one of 8 keys spanning
    // sources, so the matrix is non-trivial and fully re-derivable
    "q_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlap(Tables.table(s, d, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("shared dup "), pmod(col("doc_id"), lit(40)).cast("string")))
        .otherwise(col("text"))))),

    // MinHash LSH near-dup pairs; brute-force 5-gram-Jaccard DuckDB oracle
    // (valid: deterministic seeded LSH with recall 1.0 at gate sf)
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashLshPairs(Tables.table(s, d, "documents"), "doc_id", "text",
        threshold = 0.8).select(col("id_a"), col("id_b"))),

    // the published near-dup configuration: MinHash-LSH over 13-WORD
    // shingles at Jaccard 0.8 (Gopher/MassiveText, SlimPajama) — word
    // shingles catch token-level rewrites that char shingles dilute;
    // same banded pipeline, exact word-gram verify decides, so the
    // brute-force word-Jaccard oracle is exact (24 pairs at sf0.01)
    "q_dedup_minhash_words" -> ((s, d) =>
      Dedup.minhashLshPairsWords(Tables.table(s, d, "documents"),
        "doc_id", "text", threshold = 0.8).select(col("id_a"), col("id_b"))),

    // EXACT n-gram Jaccard pairs via prefix filtering (AllPairs/PPJoin) —
    // deterministic by construction, so the brute-force Jaccard oracle is
    // exact here (not a recall argument like the minhash row)
    "q_dedup_ngram" -> ((s, d) => {
      // scattered input (r14): one dominant shingle pass — see
      // Tables.tableScattered
      val docs = Tables.tableScattered(s, d, "documents")
      // fused-bucket variant in auto mode: a 256-doc sample (one tiny
      // limit-scan, no full count) detects the corpus's small gram
      // vocabulary and picks the dense-bitset payload path; differential-
      // tested equal to the flat pipeline across modes
      Dedup.ngramJaccardPairsFused(docs, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"))
    }),

    // SimHash near-dup pairs; bit-exact simhash64 reproduction in DuckDB
    // as the oracle (pigeonhole LSH is complete for hamming <= 3)
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.table(s, d, "documents"), "doc_id", "text")
        .select(col("id_a"), col("id_b"))),

    // Embedding near-dup pairs: banded sign-LSH (n-aware auto-tune via the
    // JVM-cached corpus row count — no per-invocation count job) + exact
    // cosine verify; brute-force DuckDB oracle
    "q_dedup_cosine" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      Dedup.cosineNearDupPairs(embs, "vec_id", "embedding",
          threshold = 0.5, targetRecall = 0.999,
          corpusSizeHint = Tables.rowCount(s, d, "embeddings"))
        .select(col("id_a"), col("id_b"))
    }),

    // product-quantization ADC top-k (Jégou et al. — the compression half
    // of IVF+PQ): md5-deterministic codebooks, argmin-L2 encode, per-query
    // lookup-table scoring; every arithmetic step is sequential in both
    // engines and the tie-break is total, so the oracle replay is exact
    "q_embed_pq_topk" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val cbs = Similarity.pqCodebooks(embs, m = 8, nCodes = 16)
      val q = embs.filter(col("vec_id") === 0L).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      Similarity.pqTopK(embs, cbs, q, 10).select(col("vec_id"))
    }),

    // the COMPOSED IVF+PQ index: deterministic coarse cells partition the
    // stored layout (probe = directory pruning), rows carry only (id,
    // codes); probe 3 of 8 cells, rank by the ADC table — the full
    // 100 TB ANN chain, exactly SQL-replayed
    "q_embed_ivfpq_topk" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val cents = Similarity.deterministicCentroids(embs, nCells = 8)
      val cbs = Similarity.pqCodebooks(embs, m = 8, nCodes = 16)
      val path = s"/tmp/graft_ivfpq_${Integer.toHexString(d.hashCode)}"
      Similarity.writeEmbeddingsIvfPq(embs, path, cents, cbs)
      val q = embs.filter(col("vec_id") === 0L).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      Similarity.ivfPqTopK(s, path, cents, cbs, q, 10, nProbe = 3)
        .select(col("vec_id"))
    }),

    // SQ8 scalar-quantized MIPS top-k (the 4x compression rung between
    // float and PQ): per-vector int8 codes + scale, INTEGER code dot
    // product, exact scalar rescale — scores replay bit-identically, so
    // the oracle re-encodes the corpus AND the query from scratch
    "q_embed_topk_sq8" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 0L).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      Similarity.sq8TopK(embs, q, 10).select(col("vec_id"))
    }),

    // MMR diversified re-ranking over SQ8 candidates: 3 queries, top-12
    // integer-code-dot candidates each, then 5 greedy λ=700 MMR steps —
    // rel AND pairwise sims are exact integer dots, so the oracle replays
    // the re-encode, the candidate cut, and every greedy argmax verbatim
    "q_mmr_rerank" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      // materialized once (r14): enc feeds THREE consumers (queries, the
      // scoring join, the candidate-code join) and cands feeds two, one
      // of them a self-join — left lazy, the encode scan and the ranking
      // window re-executed per consumer (~5 encode passes for one gate)
      val enc = graft.pipeline.Checkpoints.materialize(
        Similarity.sq8Encode(embs).select(col("vec_id"), col("sq_codes")),
        None)
      val queries = enc.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("sq_codes").as("qc"))
      val scored = enc.join(broadcast(queries), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("id"),
          Similarity.intDot(col("sq_codes"), col("qc")).as("rel"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("rel").desc, col("id").asc)
      val cands = graft.pipeline.Checkpoints.materialize(
        scored.withColumn("__rn", row_number().over(wq))
          .filter(col("__rn") <= 12).drop("__rn"),
        None)
      val cc = cands.select(col("qid"), col("id"))
        .join(enc.withColumnRenamed("vec_id", "id"), Seq("id"))
      val sims = cc.as("x").join(cc.as("y"),
          col("x.qid") === col("y.qid") && col("x.id") < col("y.id"))
        .select(col("x.qid").as("qid"), col("x.id").as("a"),
          col("y.id").as("b"),
          Similarity.intDot(col("x.sq_codes"), col("y.sq_codes")).as("sim"))
      Similarity.mmrRerank(cands.select(col("qid"), col("id"), col("rel")),
        sims, k = 5, lambdaPermille = 700)
    }),

    // batch cosine top-k JOIN: 5 query vectors each retrieve their 10
    // nearest corpus vectors via broadcast + bounded-heap aggregate (ids
    // only — rank-boundary score margins verified well above float noise)
    "q_embed_topk_join" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val queries = embs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.cosineTopKJoin(queries, embs, 10)
        .select(col("query_id"), col("vec_id"))
    }),

    // the batch-ANN scale path of the join above: every query is scored
    // only within the nProbe coarse cells its vector probes (corpus
    // rows keep their single nearest-centroid cell). Deterministic
    // md5-ordered codebook, so the oracle replays the ENTIRE chain —
    // codebook → per-query probe cells → cell assignment → per-query
    // exact rerank over the probed union (the q_embed_topk_ivf_det
    // precedent, per query instead of one)
    "q_embed_knn_join_ivf" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val cents = Similarity.deterministicCentroids(embs, nCells = 8)
      val queries = embs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfTopKJoin(queries, embs, cents, k = 10, nProbe = 3)
        .select(col("query_id"), col("vec_id"))
    }),

    // SemDeDup-shaped semantic dedup: deterministic md5-ordered codebook →
    // argmax-cosine cluster assignment (first-index tie-break) →
    // within-cluster pairs at tau; the oracle re-derives the identical
    // codebook, assignment, and pair set in SQL
    "q_dedup_semantic" -> ((s, d) =>
      Similarity.semanticNearDupPairs(Tables.table(s, d, "embeddings"),
          nClusters = 8, tau = 0.35)
        .select(col("id_a"), col("id_b"))),

    // Brute-force cosine top-k vs the vec_id=0 embedding (ids only; scores
    // float-accumulation-sensitive so left out of the hash)
    "q_embed_topk" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      Similarity.cosineTopKById(embs, 0L, 10).select(col("vec_id"))
    }),

    // LSH-bucketed ANN variant (exact-top-k oracle holds at this sf;
    // recall-tested in scalatest)
    "q_embed_topk_lsh" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 0L).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      Similarity.cosineTopKLsh(embs, q, 10).select(col("vec_id"))
    }),

    // per-source embedding outliers: exact-integer squared distance to the
    // group centroid (see Similarity.centroidOutliers — a float mean would
    // be unhashable cross-engine; the quantized form is bit-identical)
    "q_embed_outliers" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val docs = Tables.table(s, d, "documents").select(
        col("doc_id").as("vec_id"), col("source"))
      Similarity.centroidOutliers(embs.join(docs, "vec_id"), "source", k = 5)
        .select(col("grp").as("source"), col("id").as("vec_id"), col("dist_score"))
    }),

    // distributed integer-exact Lloyd k-means (8 cells, 2 update rounds):
    // seeds, both assignment/update rounds, and the final assignment all
    // replay bit-identically — the oracle unrolls the whole trajectory
    "q_kmeans" -> ((s, d) =>
      Similarity.kmeansAssign(Tables.table(s, d, "embeddings"), k = 8, iters = 2)),

    // IVF coarse-quantized ANN with the LEARNED (k-means) codebook — the
    // honestly-approximate path, gated as a SELF-CONTAINED recall
    // contract: the query runs the real ivfTopK probe, measures delivered
    // recall against the exact top-k in the same session, and returns ONE
    // row of the contract constants with `recall_ge_floor` = whether the
    // measured recall met the machine-checked floor. The oracle pins the
    // constants, so a recall regression turns this CORRECTNESS row red by
    // itself (no side-file needed). nProbe=6/8 is a measured point on the
    // nprobe recall curve (ROUND_NOTES round 6, item 2): recall 1.00 at
    // sf0.01 / 0.80 at sf0.1 (the isotropic synthetic corpus's ceiling is
    // ~nProbe/nCells) while still
    // pruning 2 of 8 cells; floor = nProbe/nCells − 0.05 = 0.70. The
    // exactly-SQL-replayed ids twin is q_embed_topk_ivf_det below.
    "q_embed_topk_ivf" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val centroids = Similarity.ivfTrain(embs, nCells = 8, iters = 3)
      val q = embs.filter(col("vec_id") === 0L).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      val floorPermille = 700L
      val r = Similarity.ivfDeliveredRecall(embs, centroids, q, 10, nProbe = 6)
      import s.implicits._
      Seq((10L, 8L, 6L, floorPermille,
          if (math.round(r * 1000) >= floorPermille) 1L else 0L))
        .toDF("k", "n_cells", "n_probe", "recall_floor_permille",
          "recall_ge_floor")
    }),

    // IVF twin with the DETERMINISTIC (md5-ordered) coarse centroids —
    // the same ivfTopK probe/prune/exact-rerank machinery as above, but
    // every step SQL-replays (like the composed IVF+PQ gate), so the IVF
    // search path itself has an exact ids oracle
    "q_embed_topk_ivf_det" -> ((s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      val cents = Similarity.deterministicCentroids(embs, nCells = 8)
      val q = embs.filter(col("vec_id") === 0L).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      Similarity.ivfTopK(embs, cents, q, 10, nProbe = 6).select(col("vec_id"))
    }),

    "q_text_tokens" -> ((s, d) =>
      Tables.table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens_ws"),
          TextAnalysis.tokenCountBpeish(col("text")).as("n_tokens_bpeish"),
          length(col("text")).as("len_chars"))),

    // REAL merges-table BPE tokenization (graft.text.BpeCore contract):
    // the oracle re-derives both the count AND the full token-sequence md5
    // from the same merges table via a recursive CTE — one recursion row
    // per merge step — so the gate checks the merge loop end to end
    "q_text_tokens_bpe" -> ((s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      Tables.table(s, d, "documents").select(col("doc_id"),
        coalesce(TextAnalysis.tokenCountBpe(col("text"), st), lit(0))
          .cast("long").as("n_tokens_bpe"),
        coalesce(md5(array_join(TextAnalysis.tokenizeBpe(col("text"), st), "\u001E")),
          md5(lit(""))).as("tokens_md5"))
    }),

    // BYTE-LEVEL BPE (the GPT-2 byte-level variant): initial symbols are
    // UTF-8 bytes rendered as chr(byte) chars, so multi-byte characters
    // (planted by the fixture tail) decompose and re-merge through byte
    // merges; the oracle rebuilds the same text and decomposes codepoints
    // to bytes with pure chr() arithmetic before the same merge loop
    // per-language tokenizer fertility (BPE tokens / ws word, chars /
    // BPE token, integer permille) — the multilingual-tokenizer
    // diagnostic; the oracle replays the merge loop AND the report
    "q_tokenizer_fertility" -> ((s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      TextAnalysis.tokenizerFertility(Tables.table(s, d, "documents"), st)
        .select(col("lang"), col("n_docs"), col("n_bpe_tokens"),
          col("n_ws_tokens"), col("n_chars"), col("fertility_permille"),
          col("chars_per_token_permille"))
    }),

    "q_text_tokens_bpe_bytes" -> ((s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.byteTable, byteLevel = true)
      Tables.table(s, d, "documents")
        .withColumn("text", bpeByteFixtureText)
        .select(col("doc_id"),
          coalesce(TextAnalysis.tokenCountBpe(col("text"), st), lit(0))
            .cast("long").as("n_tokens_bpe"),
          coalesce(md5(array_join(TextAnalysis.tokenizeBpe(col("text"), st), "\u001E")),
            md5(lit(""))).as("tokens_md5"))
    }),

    // fixed-length training examples: per-doc BPE ids + EOS, concatenated
    // in (md5(id), id) training order, cut into 64-token examples (partial
    // tail dropped) — the terminal LM data-prep step; the oracle replays
    // ids, order, the global cut, and every example's ordered id digest
    "q_examples" -> ((s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      TextAnalysis.buildExamples(Tables.table(s, d, "documents"), st,
        seqLen = 64, eosId = 2000000L)
    }),

    // vocab-id sequences — the format a trainer consumes; the oracle maps
    // every token through the same deterministic id scheme (codepoint /
    // 0x110000 + min forming rank) after replaying the merge loop
    "q_text_token_ids" -> ((s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      Tables.table(s, d, "documents").select(col("doc_id"),
        coalesce(md5(array_join(
          transform(TextAnalysis.tokenIdsBpe(col("text"), st), x => x.cast("string")),
          ",")), md5(lit(""))).as("ids_md5"))
    }),

    // FIM (fill-in-the-middle): md5-deterministic cut points and PSM
    // reorder on the md5-threshold half of docs; the oracle replays cut
    // arithmetic, selection, and reassembly with hex/substr arithmetic
    "q_fim" -> ((s, d) =>
      TextAnalysis.fimTransform(Tables.table(s, d, "documents"))
        .select(col("doc_id"), col("fim"),
          md5(coalesce(col("transformed"), lit(""))).as("out_md5"))),

    // T5-style span corruption: stride-aligned token blocks masked by
    // md5(doc:block) threshold, ordinal sentinels, (inputs, targets)
    // pair emitted — the oracle replays selection, sentinel numbering,
    // and both reassemblies with the same list arithmetic
    "q_span_corrupt" -> ((s, d) =>
      TextAnalysis.spanCorrupt(Tables.table(s, d, "documents"), p = 0.25)
        .select(col("doc_id"), col("n_blocks"), col("n_masked"),
          md5(coalesce(col("inputs"), lit(""))).as("inputs_md5"),
          md5(coalesce(col("targets"), lit(""))).as("targets_md5"))),

    // TOKEN-denominated chunking: conveyor cut (chunk = exclusive token
    // cumsum div budget) at pre-token boundaries; the oracle replays the
    // merge loop for per-pretoken counts, the window cumsum, and the
    // ordered chunk reassembly md5 — the whole slicer, independently
    "q_chunk_tokens" -> ((s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      TextAnalysis.chunkByTokens(Tables.table(s, d, "documents"), st, maxTokens = 8L)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          md5(col("chunk")).as("chunk_md5"))
    }),

    // DETOKENIZE — decode(encode(text)) must equal text byte-for-byte for
    // every document: the oracle is the identity md5, which checks the
    // decode path end-to-end because the encode path is independently
    // oracled by q_text_token_ids (same table, same id scheme)
    "q_text_detok" -> ((s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      Tables.table(s, d, "documents").select(col("doc_id"),
        coalesce(md5(TextAnalysis.detokenizeBpe(
          TextAnalysis.tokenIdsBpe(col("text"), st), st)), md5(lit("")))
          .as("detok_md5"))
    }),

    "q_text_quality" -> ((s, d) =>
      TextAnalysis.withQualityScore(Tables.table(s, d, "documents"), "text")
        .select(col("doc_id"), col("n_words"),
          round(col("quality_score") * 1000).cast("long").as("quality_milli"))),

    "q_text_fingerprint" -> ((s, d) =>
      Tables.table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.canonicalHash(col("text")).as("canon_md5"))),

    // Gopher-style repetition signals: duplicate-line counts + most-common-
    // word dominance, integer-exact for the oracle hash compare
    "q_text_repetition" -> ((s, d) =>
      TextAnalysis.repetitionStats(Tables.table(s, d, "documents"))
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          col("top_word_count"), col("n_words_alpha"), col("n_distinct_words"))),

    // Gopher n-gram REPETITION signals (most-common-gram chars for n=2,3,4;
    // duplicated-gram token coverage for n=5,10) over the planted-repetition
    // fixture; the oracle re-derives every stream, count, and range-window
    "q_repetition_ngram" -> ((s, d) =>
      TextAnalysis.repetitionNgramStats(
        Tables.table(s, d, "documents").withColumn("text", repetitionFixtureText))
        .select(col("doc_id"), col("n_word_chars"), col("top2_chars"),
          col("top3_chars"), col("top4_chars"), col("dup5_chars"),
          col("dup10_chars"))),

    // the published Gopher thresholds applied to those signals — integer
    // cross-multiplication flags, conjunction as a product
    "q_repetition_rules" -> ((s, d) =>
      TextAnalysis.repetitionRules(
        Tables.table(s, d, "documents").withColumn("text", repetitionFixtureText))
        .select(col("doc_id"), col("n_word_chars"), col("r_top2"), col("r_top3"),
          col("r_top4"), col("r_dup5"), col("r_dup10"), col("passes"))),

    // Gopher/MassiveText composite quality RULES (Rae et al. 2021 §A1.1):
    // every ratio rule is an integer cross-multiplication, so the 0/1
    // verdict flags are hash-exact — the oracle re-derives each rule from
    // the same counts with the same arithmetic. The corpus is stopword-poor
    // word soup, so fixture tails (stopword-rich / bullet-list / ellipsis
    // trailer, keyed on doc_id) make every rule flip both ways
    "q_quality_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(
          Tables.table(s, d, "documents").withColumn("text", qualityFixtureText))
        .select(col("doc_id"), col("n_words"), col("n_lines"),
          col("r_word_count"), col("r_mean_word_len"), col("r_symbol_ratio"),
          col("r_bullet_lines"), col("r_ellipsis_lines"), col("r_alpha_words"),
          col("r_stopwords"), col("passes"))),

    // jusText-style line-level boilerplate removal: per-line integer/regex
    // rules (word count, terminal punctuation, URL, shouty-caps), blank
    // lines preserved. The fixture plants one line per rule keyed on
    // doc_id so every rule removes AND keeps lines at the gate scale; the
    // oracle replays the identical rules in list_filter lambdas and
    // re-derives the cleaned-text md5 independently
    "q_boilerplate" -> ((s, d) =>
      TextAnalysis.removeBoilerplate(
          Tables.table(s, d, "documents").withColumn("text", boilerplateFixtureText))
        .select(col("doc_id"), col("n_lines"), col("n_boiler"),
          md5(coalesce(col("cleaned"), lit(""))).as("clean_md5"))),

    // lang_id over a deterministic 9-class fixture (one provably-unambiguous
    // phrase per class keyed by doc_id % 9): the REAL heuristic expression
    // runs on every row, and because each phrase is single-script or has a
    // strict stopword-vote winner, the answer is SQL-re-derivable — the
    // DuckDB oracle recomputes the language from the same fixture text via
    // unicode-range and stopword-hit-count CASE logic (it does not just
    // echo the class). Real-corpus behavior stays pinned in scalatest.
    "q_lang_id" -> ((s, d) => {
      val cls = pmod(col("doc_id"), lit(9)).cast("int")
      val fixture = when(cls === 0, lit("这是一个测试文档"))
        .when(cls === 1, lit("これはテストです"))
        .when(cls === 2, lit("이것은 테스트입니다"))
        .when(cls === 3, lit("это тестовый документ"))
        .when(cls === 4, lit("هذا مستند تجريبي"))
        .when(cls === 5, lit("यह एक परीक्षण है"))
        .when(cls === 6, lit("the quick and of to in is that"))
        .when(cls === 7, lit("el y los las una como"))
        .otherwise(lit("zzz qqq xxx"))
      Tables.table(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(fixture).as("lang_pred"))
    }),

    // multimodal metadata over the binary content column
    "q_multimodal_meta" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.demoMediaTable(
        Tables.table(s, d, "documents"), "doc_id", "text")
      graft.pipeline.Multimodal.withMediaMeta(media)
        .select(col("media_id"), col("kind"), col("byte_len"), col("sha"))
    }),

    // multimodal REAL decode: text payloads wrapped in spec-valid WAV/BMP
    // containers, then a byte-level header parse via mapPartitions; every
    // compared field (dimensions, sample rate, sample/pixel counts, file
    // size) is read from the parsed header while the oracle derives the
    // expected values arithmetically from the generation rule
    "q_multimodal_decode" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      graft.pipeline.Multimodal.decodeContainers(s, media).toDF()
        .select(col("media_id"), col("kind"), col("byte_len"), col("format"),
          col("width"), col("height"), col("sample_rate"), col("n_units"))
    }),

    // multimodal near-dup dedup: perceptual fingerprints over the REAL
    // container bytes — dHash on the BMP pixel grid, frame-energy hash on
    // the WAV payload, both all-integer — paired through the shared
    // 4×16-bit pigeonhole (hamming ≤ 3, within format). The oracle
    // re-derives both hashes from first principles (payload bytes via
    // hex arithmetic + the published generation rule), so a wrong byte
    // offset, endianness, sampling grid, or packing order mismatches
    "q_dedup_media" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      val hashes = graft.pipeline.Multimodal.perceptualHashes(s, media).toDF()
      Dedup.hash64Pairs(hashes, "media_id", "format")
    }),

    // the wide-radius pair variant: 8×8-bit pigeonhole banding at
    // hamming ≤ 7 — recompressed perceptual near-dups commonly land at
    // 4-8 bits, past the 4×16-bit bound; the oracle replays the 8-band
    // join and the ≤7 popcount verify
    "q_dedup_media_h7" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      val hashes = graft.pipeline.Multimodal.perceptualHashes(s, media).toDF()
      Dedup.hash64Pairs(hashes, "media_id", "format", maxHamming = 7)
    }),

    // incremental media dedup: the corpus fingerprints persist as a
    // chunk-value-sorted index (fingerprinted ONCE — the lake pattern),
    // and an arriving batch probes 16-bit band keys instead of
    // re-reading media; exact popcount verify. Batch = media_id % 10 = 0
    // (ids naturally disjoint from the corpus slice)
    "q_dedup_media_incr" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      // materialize the fingerprints ONCE (r14, the hash64KeepList
      // precedent): the corpus/batch halves are filters over an OPAQUE
      // mapPartitions decode+hash, so without this the index write and
      // the probe would each re-decode every container's bytes
      val hashes = graft.pipeline.Checkpoints.materialize(
        graft.pipeline.Multimodal.perceptualHashes(s, media).toDF(), None)
      val corpus = hashes.filter(pmod(col("media_id"), lit(10)) =!= 0)
      val batch = hashes.filter(pmod(col("media_id"), lit(10)) === 0)
      // per-invocation unique path: a fixed hashCode-keyed name let
      // concurrent runs over the same sfDir (bench + verify, parallel
      // suites) clobber the index between write and probe
      val path = s"/tmp/graft_h64_index_${java.util.UUID.randomUUID().toString.take(12)}"
      Dedup.writeHash64Index(corpus, path, "media_id", "format")
      Dedup.hash64AgainstIndex(s, path, batch, "media_id", "format")
    }),

    // the DEFAULT media-dedup output — LINEAR keep-list instead of the
    // replication-quadratic pair table (sf10 measured 16.9M pairs for
    // ~0.5M items): perceptual pairs → connected components → keeper by
    // (container bytes desc, id asc), singletons keeping themselves; one
    // row per media item at any replication factor. is_keeper = 0 is the
    // drop list — the reference's own keep-one-copy ingest semantics
    "q_dedup_media_clusters" -> ((s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      graft.pipeline.Multimodal.dedupMediaClusters(s, media)
    }),

    // scalar function family: JSON extraction over the props column
    "q_json_extract" -> ((s, d) =>
      Tables.table(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))),

    // scalar function family: date truncation + grouping
    "q_date_trunc" -> ((s, d) =>
      Tables.table(s, d, "orders")
        .groupBy(unix_seconds(date_trunc("month", col("o_orderdate"))).as("month_epoch"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))),

    // dedup clustering: connected components over near-dup pairs →
    // (doc_id, cluster representative); recursive-CTE DuckDB oracle
    // the round-13 LINEAR clustering path: connected-component labels
    // WITHOUT the quadratic pair enumeration (chain round + broadcast-
    // label cross-component residue) — provably identical to
    // q_dedup_clusters, so it shares that recursive-CTE oracle verbatim;
    // this gate pins the equality against DuckDB, not just scalatest
    "q_dedup_labels" -> ((s, d) =>
      Dedup.minhashLshLabels(Tables.table(s, d, "documents"),
        "doc_id", "text", threshold = 0.8)),

    "q_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.minhashLshPairs(Tables.table(s, d, "documents"),
        "doc_id", "text", threshold = 0.8)
      Dedup.clusters(pairs.select(col("id_a"), col("id_b")))
    }),

    // canonical-representative selection: the step between pair discovery
    // and corpus shrinkage — every near-dup cluster names one KEEPER by
    // (n_chars desc, id asc), the longest-member heuristic; is_keeper=0
    // rows are the drop list. Pure function of (labels, scores), total
    // order, so the selection replays cross-engine
    "q_dedup_canonical" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      val labels = Dedup.clusters(pairs.select(col("id_a"), col("id_b")))
      Dedup.clusterCanonical(labels, docs, "doc_id", "n_chars")
    }),

    // the LINEAR text-dedup default: near-dup pairs → components →
    // keeper → singleton restore, ONE row per corpus document
    // (the q_dedup_media_clusters semantics on the text family);
    // is_keeper = 0 is the exact drop list at any replication factor
    // rides the exact-duplicate collapse path (textKeepList): verbatim
    // copies never enter the LSH pipeline — output identical to the
    // uncollapsed pair graph (differential-tested + this oracle)
    "q_dedup_keeplist" -> ((s, d) =>
      Dedup.textKeepList(Tables.table(s, d, "documents"),
        "doc_id", "text", "n_chars")),

    // incremental keep-list refresh at the LAKE cadence (the realistic
    // shape, r13): the corpus-at-rest (doc_id % 100 ≠ 0) carries a
    // persisted split minhash index + linear component labels; the
    // arriving 1% batch pays only its OWN signatures — it probes the
    // index for batch-vs-corpus CONNECTIVE edges (one verified edge per
    // (batch doc, corpus component) + exact residue round, never
    // batch × replication pair rows), labels itself internally (star
    // edges, never the batch's quadratic pair table), and folds both in
    // via the affected-cluster re-solve. EXACT equality with the
    // from-scratch keep-list over the union, so this gate shares
    // q_dedup_keeplist's oracle verbatim. The pair-parity-split WORST
    // case (delta touches every component, full re-solve) stays pinned
    // by q_dedup_clusters_incr below
    "q_dedup_keeplist_incr" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val base = docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      // per-invocation unique path (the q_dedup_media_incr precedent)
      val path = s"/tmp/graft_mh_index_${java.util.UUID.randomUUID().toString.take(12)}"
      // the batch's INTERNAL labeling touches neither the index nor the
      // corpus labels — overlap its (many small) materialization jobs
      // with the index write + corpus chain on a second driver thread
      // (guide §2.6: actions are only sequential because the driver calls
      // them sequentially); results are unchanged, the two chains just
      // back-fill each other's idle cores. A pooled thread keeps the Spark
      // local properties of whichever thread created it, so the caller's
      // job group, description and interrupt flag are set on it for the
      // chain (and cleared after) — a cancelJobGroup then reaches its jobs
      val sc = s.sparkContext
      val jobProps = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel").map(p => p -> sc.getLocalProperty(p))
      val internalF = scala.concurrent.Future {
        jobProps.foreach { case (p, v) => sc.setLocalProperty(p, v) }
        try Dedup.minhashLshLabels(batch, "doc_id", "text")
          .select(col("id").as("id_a"), col("cluster").as("id_b"))
        finally jobProps.foreach { case (p, _) => sc.setLocalProperty(p, null) }
      }(scala.concurrent.ExecutionContext.global)
      Dedup.writeMinhashIndex(base, path)
      // labels REGROUP the just-written index (r14) instead of re-running
      // the full signature pass over the corpus text — the lake cadence's
      // whole point (minhashLshLabelsFromIndex is differential-tested
      // equal to minhashLshLabels at the index's parameters)
      val labels = graft.pipeline.Checkpoints.materialize(
        Dedup.minhashLshLabelsFromIndex(s, path, base), None)
      val vsCorpus = Dedup.dedupAgainstIndexConnective(s, path, batch, base,
          labels)
        .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      val internal = scala.concurrent.Await.result(internalF,
        scala.concurrent.duration.Duration.Inf)
      Dedup.clusterKeepListIncremental(labels, vsCorpus.unionByName(internal),
        docs, "doc_id", "n_chars")
    }),

    // incremental cluster maintenance: label the base half of the pair
    // stream, then fold the delta half in via clustersIncremental — the
    // contract is EXACT equality with the full recompute, so this gate
    // shares q_dedup_clusters' oracle verbatim (parity split keeps both
    // the untouched-keep and re-solve paths populated)
    "q_dedup_clusters_incr" -> ((s, d) => {
      // materialize the pair stream ONCE (r14): the base and delta halves
      // are filters over the same lazy LSH pipeline, and clusters() +
      // clustersIncremental() would otherwise each re-run the full
      // signature → bucket → verify chain (pairs are id-pair rows, tiny)
      val pairs = graft.pipeline.Checkpoints.materialize(
        Dedup.minhashLshPairs(Tables.table(s, d, "documents"),
            "doc_id", "text", threshold = 0.8)
          .select(col("id_a"), col("id_b")), None)
      val base = pairs.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 0)
      val delta = pairs.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 1)
      Dedup.clustersIncremental(Dedup.clusters(base), delta)
    }),

    // ---- streaming twins ----

    "q_stream_window" -> ((s, d) =>
      EventStreams.windowedCountsBatch(Tables.table(s, d, "events"))
        .select(unix_seconds(col("window_start")).as("window_epoch"),
          col("event_type"), col("n"), col("value_milli"))),

    // hopping windows (1 h duration, 15 min slide): each event lands in 4
    // overlapping windows — the trailing-hour-updated-every-15-min shape;
    // oracle unrolls the 4 epoch-aligned memberships per event
    "q_stream_window_hop" -> ((s, d) =>
      EventStreams.hoppingCountsBatch(Tables.table(s, d, "events"))
        .select(unix_seconds(col("window_start")).as("window_epoch"),
          col("event_type"), col("n"), col("value_milli"))),

    // LEFT OUTER stream-stream interval join (batch twin gated; the
    // watermark-driven null-row emission timing — an unmatched error
    // emits only once no matching click can still arrive — is pinned in
    // LateDataSpec): errors keep their row even with no click in the
    // preceding 10 minutes
    "q_stream_outer_join" -> ((s, d) =>
      EventStreams.errorClickJoinOuterBatch(Tables.table(s, d, "events"))),

    // SESSION windows via Spark's native session_window (30 min gap):
    // dynamic-length per-user bursts — the declarative sibling of
    // q_sessionize with watermark-managed streaming state; an event at
    // EXACTLY gap after the previous still MERGES (next.start <=
    // current.end joins, spec-pinned at ±1 µs); oracle = island
    // detection with diff > gap breaking, session_end = last event + gap
    "q_stream_session" -> ((s, d) =>
      EventStreams.sessionCountsBatch(Tables.table(s, d, "events"))
        .select(unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("user_id"), col("n"), col("value_milli"))),

    // interval merge (coverage union): each event opens a value-dependent
    // half-open window [t, t + 1..1799 s); overlapping-or-touching
    // per-user windows merge into contiguous coverage spans — the
    // span-algebra primitive (redaction spans, crawl re-visit windows,
    // contamination hit coverage); one island sweep, oracle-replayed
    "q_interval_merge" -> ((s, d) => {
      val iv = Tables.table(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("user_id"), expr("unix_micros(ts)").as("s_us"),
          expr("unix_micros(ts) + ((CAST(floor(value * 1000) AS BIGINT) " +
            "% 900 + 900) * 1000000)").as("e_us"))
      EventAnalytics.mergeIntervals(iv, "user_id", "s_us", "e_us")
    }),

    // SCD2 AS-OF LOOKUP — the composition the history exists for: each
    // event resolved to the dimension version valid AT its timestamp
    // (latest valid_from <= ts; same-instant ties to the highest
    // version, matching the asof window's (ts, id) order); built from
    // Snapshots.scd2 + AsofJoin.asofJoin, so the whole path is the
    // windowed single-shuffle shape, no range join anywhere in Spark
    "q_scd2_lookup" -> ((s, d) => {
      val ev = Tables.table(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("ts_us"))
      val hist = Snapshots.scd2(Tables.table(s, d, "events"), "user_id",
        "ts", Seq("event_type"))
        .select(col("user_id"), expr("unix_micros(valid_from)").as("vf_us"),
          col("event_type"), col("version_n"))
      graft.api.AsofJoin.asofJoin(ev, hist, "user_id", "ts_us", "vf_us",
        Seq("event_type", "version_n"), "version_n")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_event_type").as("event_type_version"),
          col("asof_version_n").as("version_n"))
    }),

    // SCD type-2 history build (Kimball): the events log versioned into
    // per-user event_type validity intervals — consecutive duplicate
    // observations collapse into one version, reappearing values start
    // NEW versions (runs, not distinct states), same-ts ties order by
    // attribute (deterministic), open versions carry NULL valid_to
    "q_scd2" -> ((s, d) =>
      Snapshots.scd2(Tables.table(s, d, "events"), "user_id", "ts",
        Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("version_n"))),

    "q_sessionize" -> ((s, d) =>
      EventStreams.sessionizeBatch(Tables.table(s, d, "events"),
        gapMs = 60 * 60 * 1000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("first_ts"), col("last_ts"))),

    // skew-resistant twins: identical semantics (and oracle SQL) to
    // q_join_asof / q_sessionize via (key, time-bucket) salting — see
    // AsofJoin.asofJoinSalted / EventStreams.sessionizeBatchSalted
    "q_join_asof_salted" -> ((s, d) => {
      val e = Tables.table(s, d, "events")
        .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_ms"))
        .agg(max(col("event_id")).as("event_id"))
      graft.api.AsofJoin.asofJoinSalted(errors, clicks,
        keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
        rightPayload = Seq("event_id"), rightIdCol = "event_id")
        .select(col("event_id"), col("asof_event_id"))
    }),

    "q_sessionize_salted" -> ((s, d) =>
      EventStreams.sessionizeBatchSalted(Tables.table(s, d, "events"),
        gapMs = 60 * 60 * 1000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("first_ts"), col("last_ts"))),

    // ordered funnel, earliest-completion semantics (view → click →
    // purchase, strictly-after on the micros timeline); the single-pass
    // sorted fold equals the oracle's chained-min CTEs by induction over
    // the per-user event order. The value floor thins the stream so every
    // stage 0..3 is populated at every gate scale (measured: 13/32/38/67
    // users at sf0.01) — unthinned, all users complete trivially.
    "q_funnel" -> ((s, d) =>
      EventAnalytics.funnel(
        Tables.table(s, d, "events").filter(col("value") >= 80),
        Seq("view", "click", "purchase"))),

    // windowed funnel conversion (complete view→click→purchase within 7
    // days of ANY anchor): the latest-start DP searches anchors exactly
    // where the greedy earliest-anchor would time out; same value floor
    // as q_funnel (converted 23/150 at sf0.01 — both outcomes populated)
    "q_funnel_window" -> ((s, d) =>
      EventAnalytics.funnelWindow(
        Tables.table(s, d, "events").filter(col("value") >= 80),
        Seq("view", "click", "purchase"),
        windowMs = 7L * 86400 * 1000)),

    // cohort retention matrix on epoch-aligned 3-day periods; the value
    // floor sparsifies activity so cohorts actually decay (4 cohorts,
    // cell counts 1..93 at sf0.01 — unthinned every cell is all-users)
    "q_retention" -> ((s, d) =>
      EventAnalytics.retention(
        Tables.table(s, d, "events").filter(col("value") >= 75),
        periodDays = 3)),

    // first-order Markov transition counts + integer permille shares
    "q_transitions" -> ((s, d) =>
      EventAnalytics.transitions(Tables.table(s, d, "events"))),

    // per-user daily resample + forward fill (pandas resample().ffill() /
    // locf): value-thinned so real gaps exist; spine + last-non-null
    // window, all integer
    "q_gapfill" -> ((s, d) =>
      EventAnalytics.gapFill(
        Tables.table(s, d, "events").filter(col("value") >= 75),
        periodDays = 1)),

    // rolling 2σ anomaly flags over the gap-filled daily series — the
    // z-score test as an exact integer cross-multiplication (no sqrt):
    // (n·x − Σx)² > k²(n·Σx² − (Σx)²) over a 7-day trailing frame.
    // NOTE on `div`: Spark's div truncates toward zero, DuckDB's //
    // floors — they agree ONLY for non-negative operands. value_milli
    // here is ≥ 75000 (the value >= 75 filter), so the scaling is exact;
    // when copying this idiom over inputs that may go negative, use
    // floor-division (floor(x / 1000)) on the Spark side instead.
    "q_anomaly" -> ((s, d) => {
      val series = EventAnalytics.gapFill(
        Tables.table(s, d, "events").filter(col("value") >= 75),
        periodDays = 1)
        .select(col("user_id"), col("period"),
          expr("value_milli div 1000").as("x"))
      EventAnalytics.rollingAnomalies(series, k = 2, window = 7,
        minPeriods = 4)
    }),

    // throttle dedup: keep an event iff ≥ 24h after the last KEPT event of
    // the same (user, type) — stateful serial decision, oracled via a
    // recursive CTE that walks each group's rank chain
    "q_throttle" -> ((s, d) =>
      EventAnalytics.throttle(Tables.table(s, d, "events"),
        minGapMs = 24L * 3600 * 1000)),

    // integer-exact PageRank (2 unrolled iterations, damping 850‰, scale
    // 1e6) over the symmetrized customer↔supplier purchase graph; fixed-
    // point arithmetic makes every iteration SQL-replayable bit-for-bit
    "q_pagerank" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      // sym is distinct by construction: e0 is distinct and the swapped
      // orientation is parity-disjoint (src even, dst odd)
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pagerankInt(sym, iters = 2, assumeDistinct = true)
        .select(col("node"), col("rank"))
    }),

    // per-node triangle counts (local clustering signal) over the brand
    // affinity graph: brands are adjacent iff they co-occur in ≥ 2.2% of
    // orders (integer ratio test, scale-invariant — keeps roughly half
    // of the 300 possible edges at every sf, so counts discriminate);
    // degree-ordered orientation bounds the wedge join at O(m^1.5)
    "q_triangles" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val brands = Tables.table(s, d, "part")
        .select(col("p_partkey"), expr("CAST(substr(p_brand, 7) AS BIGINT)").as("i"))
      val items = li.join(brands, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("bkt"), col("i")).distinct()
      val nb = items.agg(count_distinct(col("bkt")).as("nb"))
      val edges = items.select(col("bkt"), col("i").as("src"))
        .join(items.select(col("bkt"), col("i").as("dst")), "bkt")
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(nb))
        .filter(expr("c * 10000 >= 220 * nb"))
        .select(col("src"), col("dst"))
      Graph.triangleCounts(edges)
    }),

    // local clustering coefficients over the same affinity graph —
    // integer permille 2000·tri div (d·(d−1)), the link-farm/mirror-
    // clique curation signal; degree ≥ 2 nodes only
    "q_clustering_coeff" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val brands = Tables.table(s, d, "part")
        .select(col("p_partkey"), expr("CAST(substr(p_brand, 7) AS BIGINT)").as("i"))
      val items = li.join(brands, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("bkt"), col("i")).distinct()
      val nb = items.agg(count_distinct(col("bkt")).as("nb"))
      val edges = items.select(col("bkt"), col("i").as("src"))
        .join(items.select(col("bkt"), col("i").as("dst")), "bkt")
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(nb))
        .filter(expr("c * 10000 >= 220 * nb"))
        .select(col("src"), col("dst"))
      Graph.clusteringCoefficients(edges)
    }),

    // weighted PageRank over the same purchase graph, edge weight = total
    // quantity traded on the (customer, supplier) pair — flow splits
    // (r·w) div Σw instead of equally; duplicate pair edges sum their
    // weights (the operator's additive-flow aggregate)
    "q_pagerank_weighted" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"), expr("CAST(l_quantity AS BIGINT)").as("w"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"), col("w"))
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      Graph.pagerankInt(sym, iters = 2, weightCol = Some("w"))
        .select(col("node"), col("rank"))
    }),

    // personalized (seeded) PageRank over the same purchase graph:
    // teleport mass lands only on BUILDING-segment customer nodes, so
    // ranks measure proximity to that seed neighborhood — the crawl-
    // curation variant ("rank domains near my trusted seeds"); same
    // integer-exact unroll, replayed bit-for-bit by the oracle
    "q_pagerank_seeded" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select((col("c_custkey") * 2).as("node"))
      Graph.pagerankInt(sym, iters = 2, assumeDistinct = true,
          seeds = Some(seeds))
        .select(col("node"), col("rank"))
    }),

    // label-propagation communities (deterministic synchronous LPA, 3
    // rounds) over the purchase graph: every node adopts the most
    // frequent label in its closed neighborhood, ties toward the smallest
    // label — the curation complement of dup-clusters (mirror FARMS vs
    // mirror files); the oracle replays each round's vote + argmax
    "q_label_prop" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // NO query-side distinct (r14): labelPropagation's canonical pass
      // (canonDeg) distincts the (least, greatest) pairs itself, and the
      // src-even/dst-odd encoding makes that mapping injective — the
      // removed distinct was a second full shuffle of the joined edges
      // for byte-identical results
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.labelPropagation(e0, iters = 3)
    }),

    // per-community structure report over the LPA partition: member
    // count, degree mass, intra-community edges — the ingredients of
    // modularity and the per-cluster density signal a curation rule reads
    "q_community_stats" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // no query-side distinct — canonDeg's canonical distinct subsumes
      // it (see q_label_prop, r14)
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      // shared-canonical-pass composite: identical rows to
      // communityStats(e0, labelPropagation(e0, 3)) with the edge join +
      // canonical distinct derived ONCE instead of twice
      Graph.communityStatsLpa(e0, iters = 3)
    }),

    // Newman-Girvan modularity of that partition, integer permille —
    // 1000·Σ_c(4·m·e_c − D_c²) div (4m²), every term exact; the oracle
    // replicates Spark's truncate-toward-zero div for the (possibly
    // negative) numerator
    "q_modularity" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // no query-side distinct — canonDeg's canonical distinct subsumes
      // it (see q_label_prop, r14)
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      // shared-canonical-pass composite (see q_community_stats)
      Graph.modularityPermilleLpa(e0, iters = 3)
    }),

    // HITS hubs & authorities (2 rounds, max-normalized integer fixed
    // point) over the DIRECTED customer→supplier purchase graph: hubs =
    // buyers whose baskets point at strong suppliers, authorities =
    // suppliers bought by strong buyers — the bipartite complement of the
    // symmetric-PageRank gate; the oracle unrolls both half-steps of both
    // rounds bit-for-bit
    "q_hits" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      Graph.hitsInt(e0, iters = 2, assumeDistinct = true)
    }),

    // KMV sketch ALGEBRA: per-supplier part-vocabulary overlap between
    // the first and second half of the shipping timeline, from two k=64
    // bottom-hash samples — union/Jaccard/intersection estimates computed
    // sketch-to-sketch (no re-scan of raw values), every step integer so
    // the oracle rebuilds the identical numbers
    "q_kmv_setops" -> ((s, d) => {
      // scattered input (r14): both sketch passes are md5-bound off the
      // single-split scan — see Tables.tableScattered
      val li = Tables.tableScattered(s, d, "lineitem")
      val a = Sketches.kmvSample(
        li.filter(col("l_shipdate") < lit("1995-06-01").cast("timestamp")),
        "l_suppkey", "l_partkey", k = 64)
      val b = Sketches.kmvSample(
        li.filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp")),
        "l_suppkey", "l_partkey", k = 64)
      Sketches.kmvSetEstimates(a, b, "l_suppkey", k = 64)
    }),

    // Count-Min point-frequency estimates (d=4 rows × w=256 columns, the
    // frequency complement of SpaceSaving's top-k): per-returnflag
    // estimated occurrence counts for every Brand#23 part key; w is kept
    // small enough that collisions fire and the ≥-true overestimation
    // bound is exercised, and the md5 row hashes make the whole sketch
    // SQL-replayable
    "q_cms_counts" -> ((s, d) => {
      // scattered input (r14): the d=4 md5 cell pass is expression-bound
      // off the single-split scan — see Tables.tableScattered
      val sk = Sketches.cmsSketch(Tables.tableScattered(s, d, "lineitem"),
        "l_returnflag", "l_partkey", d = 4, w = 256)
      val items = Tables.table(s, d, "part")
        .filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey").as("l_partkey"))
      Sketches.cmsLookup(sk, items, "l_returnflag", "l_partkey", d = 4, w = 256)
    }),

    // containment (partial-copy) pairs at 800‰ of the SMALLER gram set —
    // the asymmetric near-dup family member: catches quotes/wrapped
    // reposts that Jaccard misses; exact by construction (prefix filter +
    // sorted-merge intersect), integer permille replayed by the oracle.
    // shingle=9 (not the default 5): the gate corpus's vocabulary is
    // template-degenerate (only ~2k distinct 5-grams at sf0.01, ~3k at
    // sf1), which defeats the rare-gram prefix filter and drove the r9
    // gate to ~all-pairs candidates (878M verified for 252k true at sf1,
    // ~51% of the whole sf1 bench). 9-grams grow the vocabulary ~10×
    // past the corpus size so prefixes prune as designed — per the
    // operator's own scaladoc guidance — while the true pair set is
    // UNCHANGED (near-dups share long spans: 25 pairs at sf0.01 for any
    // shingle in 5..12, measured)
    "q_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.tableScattered(s, d, "documents"),
        "doc_id", "text", thresholdPermille = 800, shingle = 9)),

    // benchmark decontamination (13-word-gram collision rule): the eval
    // set is the deterministic doc_id % 101 == 0 slice, the corpus the
    // rest — replicas/near-dups of eval docs land in the corpus, so both
    // flag branches populate at every scale; n_shared_grams counts
    // DISTINCT grams hit so the report is order-free
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(101)) === 0)
      val train = docs.filter(pmod(col("doc_id"), lit(101)) =!= 0)
      Curation.decontaminate(train, "doc_id", "text", bench)
    }),

    // top-100 bigram collocations by integer lift (min support 5):
    // phrase mining for tokenizer-vocab / boilerplate-phrase audits —
    // staged truncating division keeps every intermediate <= 1000·N so
    // the oracle replays identical truncations, no HUGEINT promotion
    "q_collocations" -> ((s, d) =>
      TextAnalysis.collocations(Tables.table(s, d, "documents"))),

    // EXACT global quartiles by iterative histogram-refinement selection
    // (Sketches.kthValue): no total-order shuffle — ~log_1024(range)
    // filtered counting scans locate the exact k-th element; ranks are
    // ceil(nq) over integer-cent prices; oracle = row_number replay
    // (rank arithmetic is engine-independent, ties included)
    "q_kth_value" -> ((s, d) => {
      val v = Tables.table(s, d, "lineitem")
        .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val n = v.count()
      import s.implicits._
      // one multi-rank selection: every refinement round's counting scan
      // is shared across the three quartile brackets (~8 scans vs ~24)
      val spec = Seq(("p25", (n + 3) / 4), ("p50", (n + 1) / 2),
        ("p75", (3 * n + 3) / 4))
      spec.zip(Sketches.kthValues(v, "cents", spec.map(_._2)))
        .map { case ((nm, k), value) => (nm, k, value) }
        .toDF("q", "k", "value")
    }),

    // winsorized robust price stats (composition over exact k-th
    // selection): p05/p95 located by the shared-scan multi-rank
    // refinement (~8 counting scans, NO total-order shuffle), then one
    // clip-aggregate pass — outlier-robust corpus metrics at 100 TB
    // MAD robust outlier stats (median absolute deviation + the Iglewicz-
    // Hoaglin modified z-score rule |0.6745·dev/MAD| > 3.5, cross-
    // multiplied to integers: 6745·dev > 35000·MAD): the outlier-robust
    // sibling of q_winsorize, located by TWO dependent exact-k-th
    // selections (median first, then the median of |len − med|) via the
    // shared-scan histogram refinement — ~16 counting scans total, NO
    // total-order shuffle at any corpus size. The corpus length
    // distribution is uniform (max modified z ≈ 1.35 — the 3.5 rule can
    // never fire), so the gate PLANTS a deterministic tail (+5000 chars
    // on doc_id % 97 = 0, the q_script_mix planted-fixture precedent) to
    // exercise both flag branches; the oracle replays the plant
    "q_mad" -> ((s, d) => {
      val v = Tables.table(s, d, "documents")
        .filter(col("n_chars").isNotNull)
        .select((col("n_chars").cast("long") +
          when(col("doc_id") % 97 === 0, 5000L).otherwise(0L)).as("len"))
      val n = v.count()
      val kMed = (n + 1) / 2 // ceil(n/2): the lower median rank
      val Seq(med) = Sketches.kthValues(v, "len", Seq(kMed))
      val dev = v.select(abs(col("len") - med).as("dev"))
      val Seq(mad) = Sketches.kthValues(dev, "dev", Seq(kMed))
      v.agg(count(lit(1)).as("n"),
          sum(when(abs(col("len") - med) * 6745L > lit(35000L) * mad, 1L)
            .otherwise(0L)).as("n_outliers"),
          max(abs(col("len") - med)).as("max_abs_dev"))
        .withColumn("median_len", lit(med))
        .withColumn("mad_len", lit(mad))
    }),

    "q_winsorize" -> ((s, d) => {
      val v = Tables.table(s, d, "lineitem")
        .filter(col("l_extendedprice").isNotNull)
        .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val n = v.count()
      val kLo = (n + 19) / 20          // ceil(n/20)  = p05 rank
      val kHi = (19 * n + 19) / 20     // ceil(19n/20) = p95 rank
      val Seq(lo, hi) = Sketches.kthValues(v, "cents", Seq(kLo, kHi))
      v.agg(count(lit(1)).as("n"),
          sum(when(col("cents") < lo, 1L).otherwise(0L)).as("n_clipped_low"),
          sum(when(col("cents") > hi, 1L).otherwise(0L)).as("n_clipped_high"),
          sum(greatest(least(col("cents"), lit(hi)), lit(lo)))
            .as("winsorized_sum_cents"))
        .withColumn("p05_cents", lit(lo))
        .withColumn("p95_cents", lit(hi))
    }),

    // k-core peel (Seidman '83) of the THINNED purchase graph (only
    // quantity>45 lines — the full graph is too dense to peel): 4 rounds
    // at k=4, converged by round 2 at both scales (probed in DuckDB;
    // extra rounds are no-ops by alive-set monotonicity), survivors
    // 885/1544 nodes at sf0.01 so both peel outcomes populate richly;
    // the oracle unrolls every round plus the final in-core degree report
    "q_kcore" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.kcore(e0, k = 4, iters = 4)
    }),

    // multi-source BFS distances (crawl depth / link distance): hops from
    // the sampled BUILDING-customer seed set over the SPARSER quantity>49
    // purchase graph (probed in DuckDB: distances 0..4 all populate AND
    // ~9% of nodes stay unreached at both scales — the >45 graph floods
    // in 2 hops); 4 min-fold rounds are idempotent past the fixpoint, so
    // the unrolled oracle replays them verbatim
    "q_bfs_dist" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 49)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      val seeds = Tables.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("c_custkey") % 10 === 0)
        .select((col("c_custkey") * 2).as("node"))
      Graph.bfsDistances(e, seeds, rounds = 4, assumeDistinct = true)
    }),

    // multi-source WEIGHTED shortest paths (distributed Bellman-Ford,
    // min-plus): cheapest total cost from the BUILDING seed set over the
    // quantity>45 purchase graph with edge cost 51 - quantity (1..5,
    // parallel edges min-folded to the cheapest); probed in DuckDB: the
    // (count, Σdist) fixpoint lands at round 4 at ALL THREE scales and
    // rounds are idempotent past it, so the 6-round unroll replays
    // verbatim — distances spread over 10 distinct values 0..9
    "q_sssp" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"),
          (lit(51) - col("l_quantity")).cast("long").as("w"))
        .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      val e = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(e0.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val seeds = Tables.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("c_custkey") % 10 === 0)
        .select((col("c_custkey") * 2).as("node"))
      Graph.ssspWeighted(e, seeds, rounds = 6, assumeMinFolded = true)
    }),

    // temporal (time-respecting) reachability over the quantity>47
    // purchase contacts, timestamped at the order date (epoch day):
    // earliest arrival from the BUILDING seed set via paths of <= 6
    // contacts whose instants never run backward — the information-flow
    // semantic a static reachability overstates; oracle unrolls the six
    // eligibility-filtered min-fold rounds (equality holds at ANY round
    // count since both sides run the identical rounds; the <= 6-contact
    // bound is the documented semantic)
    "q_temporal_reach" -> ((s, d) => {
      val o = Tables.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          // o_orderdate is TIMESTAMP_NTZ; the cast is wall-clock-
          // preserving under the pinned UTC session tz — the same
          // micros DuckDB's epoch() reads (the events-ts contract)
          expr("unix_seconds(CAST(o_orderdate AS TIMESTAMP)) div 86400")
            .as("t"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 47)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"), col("t"))
        .distinct()
      val e = e0.select(col("a").as("src"), col("b").as("dst"), col("t"))
        .union(e0.select(col("b").as("src"), col("a").as("dst"), col("t")))
      val seeds = Tables.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("c_custkey") % 10 === 0)
        .select((col("c_custkey") * 2).as("node"))
      Graph.temporalReachability(e, seeds, rounds = 6, assumeDistinct = true)
    }),

    // weakly connected components by min-label propagation over the
    // doubly-thinned purchase graph (quantity>49 AND partkey%7 — probed:
    // 7/72/730 components at sf0.001/0.01/0.1, fixpoint by round 10 at
    // every scale, so the 12-round unroll replays verbatim); labels ==
    // Dedup.clusters' union-find labeling, spec-pinned
    "q_components" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem")
        .filter(col("l_quantity") > 49 && col("l_partkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.componentLabels(e, rounds = 12)
    }),

    // CONVERGED-mode components over the same graph: the operator runs
    // until the Σ-label fixpoint check says no label moved (maxRounds a
    // cap, not a schedule), while the oracle stays the fixed 12-round
    // unroll — so the equality cross-engine-checks the CONVERGENCE
    // POLICY itself: a detector that stopped one round early (labels
    // still moving) or a broken stability test would hash-mismatch
    // against the past-fixpoint unroll. The fixed-round twins of every
    // graph gate were oracle-checked before; this is the first end-to-end
    // oracle row for a converged variant (judge r9 item 7)
    "q_components_conv" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem")
        .filter(col("l_quantity") > 49 && col("l_partkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.componentLabelsConverged(e, maxRounds = 50)._1
    }),

    // CONVERGED-mode k-core over q_kcore's quantity>45 graph: the
    // operator peels until a round removes nothing (maxIters a cap, not a
    // schedule) while the oracle stays the fixed 4-round unroll —
    // peeling is idempotent past its fixpoint (alive shrinks
    // monotonically; measured depth 2-3 at the gate scales), so equality
    // cross-engine-checks the convergence DETECTOR: stopping one round
    // early (nodes still dying) or a broken no-op test hash-mismatches
    // against the past-fixpoint unroll. Second converged-mode oracle gate
    // after q_components_conv proved the pattern (judge r10 item 5)
    "q_kcore_conv" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.kcoreConverged(e0, k = 4, maxIters = 50)._1
    }),

    // degree-distribution profile of the directed quantity>45 purchase
    // graph: per-direction log2 buckets (bit length) with exact min/max —
    // the graph-profiling pass that sizes every hub cap; output bounded
    // by 64 buckets per direction at any corpus size
    "q_degree_dist" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.degreeHistogram(e)
    }),

    // common-neighbor link-prediction scores: node pairs of the
    // symmetrized quantity>45 purchase graph sharing >= 3 neighbors —
    // on this bipartite graph that IS co-engagement similarity
    // (customers sharing suppliers / suppliers sharing customers);
    // probed in DuckDB: 1126/3303/1281 pairs with n_common spreads of
    // 20/11/5 distinct values at sf0.001/0.01/0.1
    "q_common_nbrs" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.commonNeighbors(e0, minCommon = 3)
    }),

    // exponentially decayed per-event-type daily counts (alpha = 0.9/day
    // EWMA): the trending-score fold, integer-exact so the recursive-CTE
    // oracle replays every truncating step; all 5 types decay to the
    // same global end day so scores are cross-key comparable
    "q_decayed_counts" -> ((s, d) =>
      EventAnalytics.decayedCounts(Tables.table(s, d, "events"),
        "event_type", alphaPermille = 900, periodDays = 1)),

    // deterministic random walks (DeepWalk corpus prep): 2 walks of 3
    // steps from every node of the symmetrized quantity>45 purchase
    // graph; each step's neighbor pick is md5(start:walk:step:cur) mod
    // outdeg over id-sorted neighbors, so the whole walk corpus replays
    // verbatim in SQL — the node-embedding training-data primitive
    "q_random_walks" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      Graph.randomWalks(e, walksPerNode = 2, length = 3,
        assumeDistinct = true)
    }),

    // node2vec biased walks (Grover & Leskovec '16): the same graph and
    // determinism contract as q_random_walks, but steps >= 2 weight each
    // neighbor by return/near/far class (500/1000/250 permille — a
    // p=2, q=4 bias) and pick by cumulative-weight interval — the whole
    // biased trajectory is still a pure function of the edge list, so
    // the oracle replays every classification, cumsum, and pick
    "q_node2vec" -> ((s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      Graph.node2vecWalks(e, walksPerNode = 2, length = 3,
        returnPermille = 500, farPermille = 250, assumeDistinct = true)
    }),

    // reciprocal-rank fusion of a lexical and a vector ranking (hybrid
    // search): BM25 top-20 fused with SQ8-ANN top-20 — the SQ8 path is
    // the bit-replayable ANN ranking, so BOTH input rank orders are
    // hash-exact cross-engine and the integer fusion replays verbatim
    "q_rrf" -> ((s, d) => {
      // the rank windows here run over ≤ topN post-limit rows — bounded
      // by construction, so their partition-less WindowExec WARN is noise
      // (muted at the mains; Spark 4's EliminateWindowPartitions folds
      // away any constant partition key, so partitionBy(lit(0)) can't fix it)
      val bm = TextAnalysis.bm25(Tables.table(s, d, "documents"),
        Seq("merge", "window", "table"), topN = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank"))
      val embs = Tables.table(s, d, "embeddings")
      val q = embs.filter(col("vec_id") === 0L).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val sq = Similarity.sq8TopK(embs, q, 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("sq_score").desc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.pipeline.Evaluation.rrfFuse(Seq(bm, sq), "doc_id", "rank")
    }),

    // pairwise association rules (2-itemset support/confidence/lift, all
    // integer permille) over order baskets — the "bought together" report;
    // minSupport=2 keeps ~3.5k genuinely co-occurring part pairs
    "q_assoc_pairs" -> ((s, d) =>
      MarketBasket.pairRules(Tables.table(s, d, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 2)),

    // top-k 3-itemset rules (Apriori level 3): frequent-pair-pruned
    // candidate generation, (support DESC, items ASC) total-order cut,
    // integer-permille confidences for all three rule orientations.
    // Baskets are order → BRAND sets (constant 25-brand domain, so triple
    // co-occurrence exists and the top-k cut binds at EVERY scale —
    // part-key triples thin out as the key domain grows: 12 at sf0.01,
    // zero at sf0.1)
    "q_assoc_triples" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val brands = Tables.table(s, d, "part")
        .select(col("p_partkey"), col("p_brand"))
      MarketBasket.tripleRules(
        li.join(brands, col("l_partkey") === col("p_partkey")),
        "l_orderkey", "p_brand", minSupport = 2, topK = 300)
    }),

    // KMV distinct-count sketch: per-supplier estimate of distinct parts
    // (k=64 min-hashes; ~600 true distinct per supplier, so the
    // estimation path fires at every gate scale). md5 hashing makes the
    // sketch itself deterministic — the oracle rebuilds it, not a bound.
    "q_distinct_kmv" -> ((s, d) =>
      Sketches.distinctKmv(Tables.table(s, d, "lineitem"),
        "l_suppkey", "l_partkey", k = 64)),

    // HLL distinct-count sketch (m=64 registers): the replayable twin of
    // approx_count_distinct — integer-exact harmonic mean, so the oracle
    // REBUILDS the registers rather than trusting an error bound
    "q_distinct_hll" -> ((s, d) =>
      Sketches.distinctHll(Tables.table(s, d, "lineitem"),
        "l_suppkey", "l_partkey", b = 6)),

    // bottom-k uniform-sample quantile sketch: per-supplier p10/p50/p90
    // of line-item price cents from a k=64 hash-minimal row sample —
    // deterministic membership, so the oracle rebuilds the exact sample
    "q_quantile_sketch" -> ((s, d) =>
      Sketches.quantileSketch(
        Tables.tableScattered(s, d, "lineitem")
          .withColumn("row_id", expr("l_orderkey * 10 + l_linenumber"))
          .withColumn("cents",
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)")),
        "l_suppkey", "row_id", "cents", k = 64,
        qsPermille = Seq(100, 500, 900))),

    // exact repeated-substring scan (Lee et al. ACL'22 curation pass):
    // per-doc count of word-aligned 40-char grams appearing verbatim in at
    // least one other document; md5 gram digests are identical in both
    // engines, so the oracle re-derivation is string-exact
    // C4 three-sentence-span dedup (Raffel et al. JMLR'20 §2.2) over a
    // planted fixture (cross-doc shared span + within-doc doubled span);
    // the oracle replays sentence extraction, span digests, global
    // first-occurrence, coverage union, and the splice — clean-text md5
    // also proves the sentence pieces partition the text exactly
    "q_dedup_sentences" -> ((s, d) =>
      Dedup.dedupSentenceSpans(
        Tables.table(s, d, "documents").withColumn("text",
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit(sent3Tail)).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0, lit(sent5Tail)).otherwise(lit("")))))
        .select(col("doc_id"),
          md5(coalesce(col("cleaned"), lit(""))).as("clean_md5"),
          col("n_sentences_removed"))),

    "q_dedup_substring" -> ((s, d) =>
      Dedup.sharedSubstringStats(Tables.table(s, d, "documents"), minLen = 40)),

    // span COVERAGE: merged character intervals covered by cross-doc
    // repeated passages — the quantity a trim/drop rule thresholds on
    "q_dedup_spans" -> ((s, d) =>
      Dedup.sharedSpanStats(Tables.table(s, d, "documents"), minLen = 40)),

    // span REMOVAL: the full Lee-et-al edit — repeated spans cut out,
    // cleaned text md5-compared byte-for-byte across engines
    "q_dedup_clean" -> ((s, d) =>
      Dedup.removeSharedSpans(Tables.table(s, d, "documents"), minLen = 40)
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          col("n_chars_removed"))),

    // INCREMENTAL dedup: the %10==0 docs replay as an arriving batch
    // (id-offset into a fresh key space) probing a persisted MinHash index
    // of the full corpus — every batch doc is an exact copy of its source
    // (jaccard 1.0, so LSH recall is exactly 1 for those pairs) plus any
    // genuine near-dups of that source; the oracle brute-forces the same
    // cross-set Jaccard join
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val path = s"/tmp/graft_mh_index_${Integer.toHexString(d.hashCode)}"
      Dedup.writeMinhashIndex(docs, path)
      Dedup.dedupAgainstIndex(s, path, batch, docs)
        .select(col("new_id"), col("corpus_id"))
    }),

    // the incremental probe on the PUBLISHED word unit: 13-word-shingle
    // index + word-sig batch probe + word-gram exact verify — the lake
    // pattern (sign once, probe per batch) at the Gopher configuration
    "q_dedup_incremental_words" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val path = s"/tmp/graft_mhw_index_${Integer.toHexString(d.hashCode)}"
      Dedup.writeMinhashIndex(docs, path, wordShingle = 13)
      Dedup.dedupAgainstIndex(s, path, batch, docs, wordShingle = 13)
        .select(col("new_id"), col("corpus_id"))
    }),

    // the SAME incremental probe through the Bloom key pre-screen: no
    // false negatives means screen-on results must equal screen-off, so
    // this gate shares q_dedup_incremental's brute-force oracle verbatim
    // — the driver independently proves screen-invariance
    "q_dedup_incremental_bloom" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val path = s"/tmp/graft_mh_index_${Integer.toHexString(d.hashCode)}"
      val bloom = s"/tmp/graft_mh_bloom_${Integer.toHexString(d.hashCode)}"
      Dedup.writeMinhashIndex(docs, path)
      Dedup.writeBloomIndex(s, path, bloom)
      Dedup.dedupAgainstIndex(s, path, batch, docs, bloomPath = Some(bloom))
        .select(col("new_id"), col("corpus_id"))
    }),

    // LINE-level global dedup (C4 keep-one-occurrence boilerplate removal):
    // fixture adds shared header/footer lines keyed on doc_id so the pass
    // has real cross-doc boilerplate to strip; the oracle re-derives the
    // identical first-occurrence rule and the spliced text md5
    "q_dedup_lines" -> ((s, d) =>
      Dedup.dedupLines(
          Tables.table(s, d, "documents").withColumn("text", lineDedupFixtureText))
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          col("n_lines_removed"))),

    // PARAGRAPH-granularity dedup (MassiveText unit): blank-line-separated
    // blocks keep their first (doc_id, pos) occurrence — same machinery as
    // q_dedup_lines with the "\n\n" separator; the oracle re-derives the
    // keep rule and splice over the rebuilt paragraph fixture
    "q_dedup_paragraphs" -> ((s, d) =>
      Dedup.dedupParagraphs(
          Tables.table(s, d, "documents").withColumn("text", paragraphFixtureText))
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          col("n_lines_removed").as("n_paras_removed"))),

    // URL/domain provenance filtering (RefinedWeb/C4-style): fixture
    // injects two doc_id-derived URLs (mixed case, www., path/query) per
    // doc; domains normalize scan-locally and the blocklist decision is a
    // broadcast semi-join — the oracle replays extraction, normalization,
    // and the blocklist hit via the same Java/RE2-parity patterns
    "q_url_filter" -> ((s, d) => {
      import s.implicits._
      val fx = Tables.table(s, d, "documents")
        .withColumn("text", concat(col("text"),
          lit(" see https://Site-"), pmod(col("doc_id"), lit(7)),
          lit(".example.com/page?id="), col("doc_id"),
          lit(" and http://www.Mirror-"), pmod(col("doc_id"), lit(3)),
          lit(".example.org/x")))
      val bl = Seq("site-2.example.com", "mirror-1.example.org").toDF("domain")
      Provenance.flagBlocked(Provenance.withDomains(fx), bl)
        .select(col("doc_id"), col("n_urls"),
          size(col("domains")).cast("long").as("n_domains"),
          array_join(col("domains"), ",").as("domains_csv"), col("blocked"))
    }),

    // URL-keyed crawl dedup: one doc per canonical page key (lowercase,
    // port/www./fragment/trailing-slash stripped, query kept); the fixture
    // plants colliding mixed-case/port/fragment URL variants keyed on
    // doc_id % 17 and leaves 1/4 of docs URL-less (always kept); the
    // oracle re-derives key, keeper, and flag from the same text
    "q_dedup_url" -> ((s, d) => {
      val fx = Tables.table(s, d, "documents")
        .withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) =!= 3,
            concat(lit(" see https://WWW.Example.com:8080/page"),
              pmod(col("doc_id"), lit(17)), lit("/#sec"),
              pmod(col("doc_id"), lit(3)))).otherwise(lit(""))))
      Provenance.dedupByUrl(fx)
        .select(col("doc_id"), col("url_key"), col("kept"))
    }),

    // INCREMENTAL line dedup: corpus (3/4 of docs) line-hashed into a
    // persisted digest index; the arriving batch (1/4) is cleaned against
    // the index plus its own within-batch first-occurrence rule — the
    // foreachBatch body of the streaming twin, oracled end to end
    "q_dedup_lines_incr" -> ((s, d) => {
      val fx = Tables.table(s, d, "documents")
        .withColumn("text", lineDedupFixtureText)
      val corpus = fx.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val batch = fx.filter(pmod(col("doc_id"), lit(4)) === 0)
      val path = s"/tmp/graft_line_index_${Integer.toHexString(d.hashCode)}"
      Dedup.writeLineIndex(corpus, path)
      Dedup.dedupLinesAgainstIndex(s, path, batch)
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          col("n_lines_removed"))
    }),

    // Unicode NFC normalization over a fixture with decomposed accents and
    // messy whitespace (corpus is ASCII/NFC already, so the interesting
    // inputs are doc_id-derived); the oracle re-runs DuckDB's own
    // nfc_normalize — same Unicode algorithm, so md5s match exactly
    "q_text_normalize" -> ((s, d) => {
      val withMess = Tables.table(s, d, "documents")
        .withColumn("text", normalizeFixtureText)
      val norm = TextAnalysis.normalizeText(col("text"))
      withMess.select(col("doc_id"), md5(norm).as("norm_md5"),
        length(norm).cast("long").as("norm_len"))
    }),

    // PII scrub over a deterministic fixture column (q_lang_id precedent:
    // the corpus carries no PII, so emails/phones/IPs are appended as pure
    // functions of doc_id); the REAL regex operators count + redact, and
    // the oracle re-derives counts AND the redacted-text md5 under RE2 —
    // the pattern subset is chosen for Java/RE2 semantic parity
    "q_pii_redact" -> ((s, d) => {
      val withPii = Tables.table(s, d, "documents")
        .withColumn("text", piiFixtureText)
      graft.pipeline.Pii.scrub(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          md5(col("redacted")).as("redacted_md5"))
    })
  )

  /** Shared CTE chain replaying the full BM25 computation (q_bm25,
    * q_retrieval_eval): term filter inside the token list, (N, Σdl)
    * stats, tf/df, the constant folds as SQL constant expressions, and
    * the per-doc sorted-term ordered fold into `g(doc_id, n_terms,
    * bm25)`. */
  /** Unrolled DuckDB replay of [[graft.pipeline.Similarity.kmeansAssign]]
    * (k=8, iters=2, scale=1000): quantize → md5-minimal seeds → two
    * (assign, update) rounds → final assignment. Integer arithmetic only;
    * DuckDB `//` and Spark `div` both truncate toward zero. */
  private val KmeansOracleSql: String = {
    def assign(cents: String, name: String): String =
      s"${name}x AS (SELECT q.id, q.qe, $cents.cell AS cell, " +
        "CAST(list_sum(list_transform(generate_series(1, len(q.qe)), " +
        s"i -> (q.qe[i] - $cents.cvec[i]) * (q.qe[i] - $cents.cvec[i]))) AS BIGINT) AS dist " +
        s"FROM kq q CROSS JOIN $cents), " +
        s"$name AS (SELECT id, qe, cell, dist FROM (SELECT *, " +
        s"row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn FROM ${name}x) WHERE rn = 1)"
    def update(assignName: String, prev: String, name: String): String =
      s"${name}u AS (SELECT cell, dim, CAST(sum(v) // count(*) AS BIGINT) AS c FROM " +
        s"(SELECT cell, generate_subscripts(qe, 1) AS dim, unnest(qe) AS v FROM $assignName) " +
        "GROUP BY cell, dim), " +
        s"$name AS (SELECT p.cell, COALESCE(u.cvec, p.cvec) AS cvec FROM $prev p " +
        s"LEFT JOIN (SELECT cell, list(c ORDER BY dim) AS cvec FROM ${name}u GROUP BY cell) u " +
        "USING (cell))"
    "WITH kq AS (SELECT vec_id AS id, list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe FROM embeddings), " +
      "seeds AS (SELECT id, qe FROM kq ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8), " +
      "c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, qe AS cvec FROM seeds), " +
      assign("c0", "a1") + ", " + update("a1", "c0", "c1") + ", " +
      assign("c1", "a2") + ", " + update("a2", "c1", "c2") + ", " +
      assign("c2", "a3") +
      " SELECT id AS vec_id, cell, dist FROM a3"
  }

  /** DuckDB replay of [[graft.pipeline.TextAnalysis.repetitionNgramStats]]
    * over the planted-repetition fixture: same tokenization, gram streams,
    * (count DESC, gram DESC) top pick, and (n−1)-preceding range-window
    * coverage union. */
  private val RepetitionNgramOracleSql: String = {
    def gram(n: Int) =
      s"g$n AS (SELECT doc_id, p AS pos, array_to_string(ws[p+1:p+$n], ' ') AS g " +
        s"FROM tk, unnest(generate_series(0, len(ws) - $n)) AS u(p)), "
    def top(n: Int) =
      s"t$n AS (SELECT doc_id, c * (length(g) - ${n - 1}) AS v FROM " +
        "(SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY c DESC, g DESC) AS rn " +
        s"FROM (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY doc_id, g)) " +
        "WHERE rn = 1), "
    def dup(n: Int) =
      s"d$n AS (SELECT doc_id, sum(len) AS v FROM " +
        "(SELECT doc_id, len, sum(st) OVER (PARTITION BY doc_id ORDER BY pos " +
        s"RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS cov FROM " +
        "(SELECT doc_id, pos, 1 AS st, 0 AS len FROM " +
        s"(SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, g) AS cc FROM g$n) " +
        "WHERE cc >= 2 " +
        "UNION ALL SELECT doc_id, pos, 0 AS st, length(w) AS len FROM tok)) " +
        "WHERE len > 0 AND cov >= 1 GROUP BY doc_id), "
    "WITH rt AS (SELECT doc_id, text || " +
      s"CASE WHEN doc_id % 5 = 0 THEN '${rep5Phrase + rep5Phrase}' ELSE '' END || " +
      s"CASE WHEN doc_id % 6 = 0 THEN '${rep10Phrase + rep10Phrase}' ELSE '' END AS text " +
      "FROM documents), " +
      "tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), " +
      "x -> x <> '') AS ws FROM rt), " +
      "tok AS (SELECT doc_id, p AS pos, ws[p+1] AS w " +
      "FROM tk, unnest(generate_series(0, len(ws) - 1)) AS u(p)), " +
      "nw AS (SELECT doc_id, sum(length(w)) AS v FROM tok GROUP BY doc_id), " +
      gram(2) + gram(3) + gram(4) + gram(5) + gram(10) +
      top(2) + top(3) + top(4) + dup(5) + dup(10).stripSuffix(", ") + " " +
      "SELECT d.doc_id, CAST(COALESCE(nw.v, 0) AS BIGINT) AS n_word_chars, " +
      "CAST(COALESCE(t2.v, 0) AS BIGINT) AS top2_chars, " +
      "CAST(COALESCE(t3.v, 0) AS BIGINT) AS top3_chars, " +
      "CAST(COALESCE(t4.v, 0) AS BIGINT) AS top4_chars, " +
      "CAST(COALESCE(d5.v, 0) AS BIGINT) AS dup5_chars, " +
      "CAST(COALESCE(d10.v, 0) AS BIGINT) AS dup10_chars " +
      "FROM documents d LEFT JOIN nw USING (doc_id) " +
      "LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id) " +
      "LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id) " +
      "LEFT JOIN d10 USING (doc_id)"
  }

  /** Shared LPA replay chain (purchase graph → canonical simple graph →
    * 3 synchronous vote/argmax rounds) — the common prefix of the
    * q_label_prop / q_community_stats / q_modularity oracles. */
  private val LpaCtes: String =
    "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
      "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
      "canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b " +
      "FROM e0 WHERE least(src, dst) < greatest(src, dst)), " +
      "nodes AS (SELECT a AS node FROM canon UNION SELECT b FROM canon), " +
      "adj AS (SELECT a AS node, b AS nbr FROM canon " +
      "UNION ALL SELECT b, a FROM canon " +
      "UNION ALL SELECT node, node FROM nodes), " +
      "l0 AS (SELECT node, node AS label FROM nodes), " +
      "v1 AS (SELECT adj.node, l0.label, count(*) AS c FROM adj " +
      "JOIN l0 ON adj.nbr = l0.node GROUP BY 1, 2), " +
      "l1 AS (SELECT node, label FROM (SELECT node, label, " +
      "row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn " +
      "FROM v1) WHERE rn = 1), " +
      "v2 AS (SELECT adj.node, l1.label, count(*) AS c FROM adj " +
      "JOIN l1 ON adj.nbr = l1.node GROUP BY 1, 2), " +
      "l2 AS (SELECT node, label FROM (SELECT node, label, " +
      "row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn " +
      "FROM v2) WHERE rn = 1), " +
      "v3 AS (SELECT adj.node, l2.label, count(*) AS c FROM adj " +
      "JOIN l2 ON adj.nbr = l2.node GROUP BY 1, 2), " +
      "l3 AS (SELECT node, label FROM (SELECT node, label, " +
      "row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn " +
      "FROM v3) WHERE rn = 1)"

  /** Unrolled k-core replay: the thinned purchase graph (quantity > 45
    * lines only — the full graph is too dense to peel), `iters` rounds of
    * "keep nodes with ≥ k alive-subgraph degree" (each round = two
    * alive-set joins + one degree count, exactly [[graft.pipeline.Graph
    * .kcore]]'s semi-join shape), then the final-survivor in-core degree
    * report with zero-neighbor survivors reading 0. */
  /** The q_dedup_media oracle: re-derives BOTH perceptual hashes from
    * first principles — payload bytes addressed through hex(encode(text))
    * plus the container generation rule (BMP: 16-wide rows of 48 bytes,
    * zero-padded, pixel data at offset 54 ⇒ payload index 0; WAV: payload
    * zero-padded to block align (1 + id%2)·2) — then replays the 4×16-bit
    * band join and the popcount-≤3 verify. byte(p) = hex pair at 2p when
    * p < len else 0 (the writers zero-pad), so no binary column is needed
    * DuckDB-side; a wrong offset, sampling grid, or packing order in the
    * JVM hasher mismatches. */
  /** The shared media perceptual-hash CTE chain (no WITH prefix): raw →
    * dHash/energy-hash re-derivation → `maxHamming`-banded candidate
    * join → `mpairs` (verified pairs). Radius picks the band layout
    * exactly as [[graft.pipeline.Dedup.hash64Pairs]] does: ≤ 3 → 4
    * 16-bit chunks, 4–7 → 8 8-bit chunks. */
  private def mediaPairCtes(maxHamming: Int): String = {
    // byte p (0-based) of the payload, zero past the unpadded length
    def byt(p: String) =
      s"(CASE WHEN ($p) < len THEN CAST('0x' || substr(hx, 2*($p)+1, 2) AS BIGINT) ELSE 0 END)"
    // BMP gray sample g of 72 (row i = g//9 at pixel row (i·(h−1))//7,
    // col j = g%9 at pixel col (15j)//8; h = rows of 48 payload bytes)
    val pix = "(((g // 9) * (greatest(1, (len + 47) // 48) - 1)) // 7) * 48 + " +
      "((15 * (g % 9)) // 8) * 3"
    val gray = s"(${byt(pix)} + ${byt(s"($pix) + 1")} + ${byt(s"($pix) + 2")}) // 3"
    val (bandVals, bandPos) =
      if (maxHamming <= 3)
        ("[h0 & 65535, h0 >> 16, h1 & 65535, h1 >> 16]", "[0, 1, 2, 3]")
      else
        ("[h0 & 255, (h0 >> 8) & 255, (h0 >> 16) & 255, (h0 >> 24) & 255, " +
          "h1 & 255, (h1 >> 8) & 255, (h1 >> 16) & 255, (h1 >> 24) & 255]",
          "[0, 1, 2, 3, 4, 5, 6, 7]")
    "raw AS (SELECT doc_id AS media_id, doc_id % 3 AS k, " +
      "(1 + doc_id % 2) * 2 AS ba, hex(encode(text)) AS hx, " +
      "octet_length(encode(text)) AS len FROM documents), " +
      s"bmpg AS (SELECT media_id, 'bmp' AS format, " +
      s"list_transform(range(72), g -> $gray) AS grys FROM raw WHERE k <> 1), " +
      "bmph AS (SELECT media_id, format, list_transform(range(64), b -> " +
      "CASE WHEN grys[(b // 8) * 9 + (b % 8) + 1] > grys[(b // 8) * 9 + (b % 8) + 2] " +
      "THEN 1 ELSE 0 END) AS bits FROM bmpg), " +
      "wavr AS (SELECT media_id, hx, len, ((len + ba - 1) // ba) * ba AS dl " +
      "FROM raw WHERE k = 1), " +
      "wavg AS (SELECT media_id, 'wav' AS format, list_transform(range(65), f -> " +
      "coalesce(list_sum(list_transform(range((f * dl) // 65, ((f + 1) * dl) // 65), " +
      s"p -> ${byt("p")})), 0)) AS en FROM wavr), " +
      "wavh AS (SELECT media_id, format, list_transform(range(64), b -> " +
      "CASE WHEN en[b + 1] > en[b + 2] THEN 1 ELSE 0 END) AS bits FROM wavg), " +
      "hsh AS (SELECT * FROM bmph UNION ALL SELECT * FROM wavh), " +
      "packed AS (SELECT media_id, format, " +
      "CAST(list_sum(list_transform(range(32), b -> bits[b + 1] * (CAST(1 AS BIGINT) << b))) AS BIGINT) AS h0, " +
      "CAST(list_sum(list_transform(range(32), b -> bits[b + 33] * (CAST(1 AS BIGINT) << b))) AS BIGINT) AS h1 " +
      "FROM hsh), " +
      "bands AS (SELECT media_id, format, h0, h1, " +
      s"unnest($bandVals) AS bv, " +
      s"unnest($bandPos) AS bp FROM packed), " +
      "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, " +
      "a.format AS format, a.h0 AS a0, a.h1 AS a1, b.h0 AS b0, b.h1 AS b1 " +
      "FROM bands a JOIN bands b ON a.format = b.format AND a.bp = b.bp " +
      "AND a.bv = b.bv AND a.media_id < b.media_id), " +
      "mpairs AS (SELECT id_a, id_b, format, " +
      "CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS BIGINT) AS hamming " +
      s"FROM cand WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= $maxHamming)"
  }

  private def mediaDedupOracleSql: String =
    s"WITH ${mediaPairCtes(3)} SELECT id_a, id_b, format, hamming FROM mpairs"

  /** The q_dedup_media_h7 oracle: same re-derivation, 8-band pigeonhole
    * at the recompressed-media radius (hamming ≤ 7). */
  private def mediaDedupWideOracleSql: String =
    s"WITH ${mediaPairCtes(7)} SELECT id_a, id_b, format, hamming FROM mpairs"

  /** The q_dedup_media_incr oracle: the same hash re-derivation and
    * 4-band join, restricted to the BIPARTITE batch (media_id % 10 = 0)
    * × corpus (% 10 ≠ 0) cut — exactly what the index probe computes. */
  private def mediaIncrOracleSql: String =
    s"WITH ${mediaPairCtes(3)}, " +
      "icand AS (SELECT DISTINCT a.media_id AS new_id, b.media_id AS corpus_id, " +
      "a.h0 AS a0, a.h1 AS a1, b.h0 AS b0, b.h1 AS b1 " +
      "FROM bands a JOIN bands b ON a.format = b.format AND a.bp = b.bp " +
      "AND a.bv = b.bv AND a.media_id % 10 = 0 AND b.media_id % 10 <> 0) " +
      "SELECT new_id, corpus_id, " +
      "CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS BIGINT) AS hamming " +
      "FROM icand WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= 3"

  /** The q_dedup_media_clusters oracle: the pair CTEs, the local-min-
    * seeded transitive-closure labeling (the q_dedup_clusters pattern),
    * the keeper window by (container bytes DESC, id ASC), and the
    * singleton restore — container bytes derived ARITHMETICALLY from the
    * generation rule (BMP: 54 + 48·max(1, ceil(len/48)); WAV: 44 +
    * ceil(len/ba)·ba), never echoed from the writer. */
  private def mediaClustersOracleSql: String =
    s"WITH RECURSIVE ${mediaPairCtes(3)}, " +
      "blen AS (SELECT media_id, CAST(CASE WHEN k = 1 " +
      "THEN 44 + ((len + ba - 1) // ba) * ba " +
      "ELSE 54 + 48 * greatest(1, (len + 47) // 48) END AS BIGINT) AS sc FROM raw), " +
      "edges AS (SELECT id_a AS src, id_b AS dst FROM mpairs " +
      "UNION ALL SELECT id_b, id_a FROM mpairs), " +
      "roots AS (SELECT src AS id FROM edges GROUP BY src HAVING src < min(dst)), " +
      "reach(id, r) AS (SELECT id, id FROM roots " +
      "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src), " +
      "lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id), " +
      "j AS (SELECT b.media_id AS id, coalesce(lab.cluster, b.media_id) AS cluster, " +
      "b.sc FROM blen b LEFT JOIN lab ON b.media_id = lab.id), " +
      "k AS (SELECT cluster, id AS keeper FROM (SELECT cluster, id, " +
      "row_number() OVER (PARTITION BY cluster " +
      "ORDER BY sc DESC NULLS LAST, id ASC) AS rn FROM j) WHERE rn = 1) " +
      "SELECT j.id, j.cluster, k.keeper, " +
      "CAST(CASE WHEN j.id = k.keeper THEN 1 ELSE 0 END AS BIGINT) AS is_keeper " +
      "FROM j JOIN k USING (cluster)"

  private def kcoreOracleSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e AS (SELECT DISTINCT least(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS a, " +
        "greatest(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "adj AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e), " +
        "alive0 AS (SELECT DISTINCT node FROM adj)")
    for (i <- 1 to iters)
      sb.append(s", d$i AS (SELECT adj.node, count(*) AS c FROM adj " +
        s"JOIN alive${i - 1} x ON adj.node = x.node " +
        s"JOIN alive${i - 1} y ON adj.nbr = y.node GROUP BY 1), " +
        s"alive$i AS (SELECT node FROM d$i WHERE c >= $k)")
    sb.append(s", dfin AS (SELECT adj.node, count(*) AS c FROM adj " +
      s"JOIN alive$iters x ON adj.node = x.node " +
      s"JOIN alive$iters y ON adj.nbr = y.node GROUP BY 1) " +
      s"SELECT CAST(a.node AS BIGINT) AS node, " +
      "CAST(coalesce(d.c, 0) AS BIGINT) AS core_degree " +
      s"FROM alive$iters a LEFT JOIN dfin d ON a.node = d.node")
    sb.toString
  }

  /** Unrolled multi-source BFS replay: the quantity>49 purchase graph
    * symmetrized, sampled BUILDING seeds at distance 0, then `rounds`
    * rounds of "offer dist+1 along out-edges, min-fold with the current
    * table" — exactly [[graft.pipeline.Graph.bfsDistances]]'s one-join +
    * one-min-shuffle shape, idempotent past the fixpoint. */
  private def bfsOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 49), " +
        "e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
        "seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer " +
        "WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0 " +
        "AND c_custkey * 2 IN (SELECT src FROM e)), " +
        "d0 AS (SELECT node, 0 AS dist FROM seeds)")
    for (i <- 1 to rounds)
      sb.append(s", d$i AS (SELECT node, min(dist) AS dist FROM (" +
        s"SELECT e.dst AS node, x.dist + 1 AS dist FROM d${i - 1} x " +
        s"JOIN e ON x.node = e.src " +
        s"UNION ALL SELECT node, dist FROM d${i - 1}) GROUP BY 1)")
    sb.append(" SELECT CAST(node AS BIGINT) AS node, " +
      s"CAST(dist AS BIGINT) AS dist FROM d$rounds")
    sb.toString
  }

  /** Unrolled weighted-SSSP replay: the quantity>45 purchase graph with
    * min-folded integer edge costs 51 - quantity, BUILDING seeds at 0,
    * then `rounds` Bellman-Ford relaxations — [[graft.pipeline.Graph
    * .ssspWeighted]]'s one-join + one-min-shuffle step with dist + w in
    * place of the BFS +1. Each round references the previous TWICE
    * (offer + union), so every CTE is MATERIALIZED — plain CTE inlining
    * would expand the chain 2^rounds-fold (the clusters-lineage lesson
    * in DuckDB form). */
  private def ssspOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS MATERIALIZED (SELECT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b, " +
        "min(CAST(51 - l.l_quantity AS BIGINT)) AS w " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45 GROUP BY 1, 2), " +
        "e AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM e0 " +
        "UNION ALL SELECT b, a, w FROM e0), " +
        "seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer " +
        "WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0 " +
        "AND c_custkey * 2 IN (SELECT src FROM e)), " +
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds)")
    for (i <- 1 to rounds)
      sb.append(s", d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (" +
        s"SELECT e.dst AS node, x.dist + e.w AS dist FROM d${i - 1} x " +
        s"JOIN e ON x.node = e.src " +
        s"UNION ALL SELECT node, dist FROM d${i - 1}) GROUP BY 1)")
    sb.append(" SELECT CAST(node AS BIGINT) AS node, " +
      s"CAST(dist AS BIGINT) AS dist FROM d$rounds")
    sb.toString
  }

  /** Unrolled temporal-reachability replay: timestamped purchase
    * contacts (epoch-day order dates), BUILDING seeds at arrival 0,
    * then `rounds` eligibility-filtered min-fold rounds — the offer
    * join carries `t >= arrival` so time never runs backward, exactly
    * [[graft.pipeline.Graph.temporalReachability]]'s step. MATERIALIZED
    * per round (the ssspOracleSql lesson). */
  private def temporalOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b, " +
        "CAST(epoch(o.o_orderdate) AS BIGINT) // 86400 AS t " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 47), " +
        "e AS MATERIALIZED (SELECT a AS src, b AS dst, t FROM e0 " +
        "UNION ALL SELECT b, a, t FROM e0), " +
        "seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer " +
        "WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0 " +
        "AND c_custkey * 2 IN (SELECT src FROM e)), " +
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS arrival FROM seeds)")
    for (i <- 1 to rounds)
      sb.append(s", d$i AS MATERIALIZED (SELECT node, min(arrival) AS arrival FROM (" +
        s"SELECT e.dst AS node, e.t AS arrival FROM d${i - 1} x " +
        "JOIN e ON x.node = e.src AND e.t >= x.arrival " +
        s"UNION ALL SELECT node, arrival FROM d${i - 1}) GROUP BY 1)")
    sb.append(" SELECT CAST(node AS BIGINT) AS node, " +
      s"CAST(arrival AS BIGINT) AS arrival FROM d$rounds")
    sb.toString
  }

  /** Unrolled min-label connected-components replay: the doubly-thinned
    * purchase graph symmetrized, labels start at the node id, then
    * `rounds` rounds of "offer my label along my edges, min-fold" —
    * [[graft.pipeline.Graph.componentLabels]]'s step verbatim. Each round
    * references the previous twice, so every CTE is MATERIALIZED (the
    * ssspOracleSql lesson). */
  private def componentsOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 49 AND l.l_partkey % 7 = 0), " +
        "e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 " +
        "UNION ALL SELECT b, a FROM e0), " +
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e)")
    for (i <- 1 to rounds)
      sb.append(s", l$i AS MATERIALIZED (SELECT node, min(label) AS label FROM (" +
        s"SELECT e.dst AS node, x.label FROM l${i - 1} x " +
        s"JOIN e ON x.node = e.src " +
        s"UNION ALL SELECT node, label FROM l${i - 1}) GROUP BY 1)")
    sb.append(" SELECT CAST(node AS BIGINT) AS node, " +
      s"CAST(label AS BIGINT) AS component FROM l$rounds")
    sb.toString
  }

  /** Unrolled node2vec replay: the q_random_walks graph CTEs, a uniform
    * first hop (identical pick arithmetic to walksOracleSql, carrying
    * prev out), then per biased step: fan to every neighbor of the
    * frontier, classify return/near/far (near = LEFT JOIN on directed
    * (prev, nbr) membership), id-ordered cumulative weights, and the
    * md5-mod-total interval pick — every step MATERIALIZED. */
  private def node2vecOracleSql(walksPerNode: Int, length: Int,
                                wRet: Int, wFar: Int): String = {
    val walkVals = (0 until walksPerNode).map(w => s"($w)").mkString(", ")
    def hash(i: Int): String =
      "CAST('0x' || substr(md5(CAST(start AS VARCHAR) || ':' || " +
        s"CAST(walk AS VARCHAR) || ':' || '$i' || ':' || " +
        "CAST(cur AS VARCHAR)), 1, 15) AS BIGINT)"
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 " +
        "UNION ALL SELECT b, a FROM e0), " +
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "adj AS MATERIALIZED (SELECT src, dst, row_number() OVER " +
        "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM e), " +
        "starts AS (SELECT DISTINCT src AS node FROM e), " +
        s"w(walk) AS (VALUES $walkVals), " +
        "s0 AS MATERIALIZED (SELECT starts.node AS start, w.walk AS walk, " +
        "starts.node AS cur FROM starts CROSS JOIN w), " +
        "s1 AS MATERIALIZED (SELECT x.start, x.walk, x.cur AS prev, " +
        "adj.dst AS cur " +
        "FROM s0 x JOIN deg ON deg.src = x.cur " +
        s"JOIN adj ON adj.src = x.cur AND adj.idx = ${hash(1)} % deg.outdeg)")
    for (i <- 2 to length)
      sb.append(
        s", f$i AS MATERIALIZED (SELECT x.start, x.walk, x.prev, x.cur, " +
          "e.dst AS nbr, " +
          s"CASE WHEN e.dst = x.prev THEN $wRet " +
          "WHEN m.src IS NOT NULL THEN 1000 " +
          s"ELSE $wFar END AS wgt " +
          s"FROM s${i - 1} x JOIN e ON e.src = x.cur " +
          "LEFT JOIN e m ON m.src = x.prev AND m.dst = e.dst), " +
          s"c$i AS MATERIALIZED (SELECT *, " +
          "sum(wgt) OVER (PARTITION BY start, walk ORDER BY nbr " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
          "sum(wgt) OVER (PARTITION BY start, walk) AS tot " +
          s"FROM f$i), " +
          s"s$i AS MATERIALIZED (SELECT start, walk, cur AS prev, nbr AS cur " +
          s"FROM c$i WHERE ${hash(i)} % tot >= cum - wgt " +
          s"AND ${hash(i)} % tot < cum)")
    sb.append((0 to length).map(i =>
      s" SELECT CAST(start AS BIGINT) AS start, CAST(walk AS BIGINT) AS walk, " +
        s"CAST($i AS BIGINT) AS step, CAST(cur AS BIGINT) AS node FROM s$i")
      .mkString(" UNION ALL"))
    sb.toString
  }

  /** Unrolled MMR replay: SQ8 re-encode (the q_embed_topk_sq8 CTEs),
    * integer code dots for relevance and pairwise similarity (exact in
    * double at |dot| ≤ 127²·dims), per-query top-`topN` candidate cut,
    * then `k` greedy argmax steps of λ·rel − (1000−λ)·max-sim-to-selected
    * with the (score desc, id asc) tie-break — every step MATERIALIZED
    * (selected is re-referenced per step). */
  private def mmrOracleSql(k: Int, topN: Int, lam: Int): String = {
    val om = 1000 - lam
    val sb = new StringBuilder
    sb.append(
      "WITH enc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
        "list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m " +
        "FROM embeddings), " +
        "codes AS MATERIALIZED (SELECT vec_id, " +
        "CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT)) " +
        "ELSE list_transform(v, x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT)) END AS c " +
        "FROM enc), " +
        "q AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 3), " +
        "rels AS MATERIALIZED (SELECT q.qid, codes.vec_id AS id, " +
        "CAST(list_inner_product(CAST(codes.c AS DOUBLE[]), CAST(q.qc AS DOUBLE[])) AS BIGINT) AS rel " +
        "FROM codes CROSS JOIN q WHERE codes.vec_id <> q.qid), " +
        "cand AS MATERIALIZED (SELECT qid, id, rel FROM (" +
        "SELECT qid, id, rel, row_number() OVER " +
        "(PARTITION BY qid ORDER BY rel DESC, id ASC) AS rn FROM rels) " +
        s"WHERE rn <= $topN), " +
        "cc AS MATERIALIZED (SELECT cand.qid, cand.id, codes.c " +
        "FROM cand JOIN codes ON cand.id = codes.vec_id), " +
        "pairs AS MATERIALIZED (SELECT x.qid, x.id AS a, y.id AS b, " +
        "CAST(list_inner_product(CAST(x.c AS DOUBLE[]), CAST(y.c AS DOUBLE[])) AS BIGINT) AS sim " +
        "FROM cc x JOIN cc y ON x.qid = y.qid AND x.id < y.id), " +
        "sym AS MATERIALIZED (SELECT qid, a, b, sim FROM pairs " +
        "UNION ALL SELECT qid, b, a, sim FROM pairs), " +
        s"selall1 AS MATERIALIZED (SELECT qid, id, $lam * rel AS mmr_score, " +
        "CAST(1 AS BIGINT) AS rank FROM (SELECT qid, id, rel, row_number() OVER " +
        "(PARTITION BY qid ORDER BY rel DESC, id ASC) AS rn FROM cand) WHERE rn = 1)")
    for (r <- 2 to k)
      sb.append(
        s", rem$r AS (SELECT c.qid, c.id, c.rel FROM cand c " +
          s"ANTI JOIN selall${r - 1} s ON c.qid = s.qid AND c.id = s.id), " +
          s"ms$r AS (SELECT ss.qid, ss.a AS id, max(ss.sim) AS msim " +
          s"FROM sym ss JOIN selall${r - 1} s ON ss.qid = s.qid AND ss.b = s.id " +
          "GROUP BY 1, 2), " +
          s"sc$r AS (SELECT r.qid, r.id, " +
          s"$lam * r.rel - $om * coalesce(m.msim, 0) AS score " +
          s"FROM rem$r r LEFT JOIN ms$r m ON r.qid = m.qid AND r.id = m.id), " +
          s"selall$r AS MATERIALIZED (SELECT * FROM selall${r - 1} " +
          s"UNION ALL SELECT qid, id, score AS mmr_score, CAST($r AS BIGINT) AS rank " +
          s"FROM (SELECT qid, id, score, row_number() OVER " +
          s"(PARTITION BY qid ORDER BY score DESC, id ASC) AS rn FROM sc$r) " +
          "WHERE rn = 1)")
    sb.append(" SELECT CAST(qid AS BIGINT) AS qid, CAST(id AS BIGINT) AS id, " +
      s"CAST(mmr_score AS BIGINT) AS mmr_score, rank FROM selall$k")
    sb.toString
  }

  /** Unrolled deterministic-walk replay: id-sorted neighbor ranks via
    * row_number, per-step pick = 60-bit md5 prefix mod outdeg — the
    * identical string, hash, and modulus [[graft.pipeline.Graph
    * .randomWalks]] computes, so every hop joins to the same adjacency
    * row in both engines. */
  private def walksOracleSql(walksPerNode: Int, length: Int): String = {
    val walkVals = (0 until walksPerNode).map(w => s"($w)").mkString(", ")
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "adj AS (SELECT src, dst, row_number() OVER " +
        "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM e), " +
        "starts AS (SELECT DISTINCT src AS node FROM e), " +
        s"w(walk) AS (VALUES $walkVals), " +
        "s0 AS (SELECT starts.node AS start, w.walk AS walk, " +
        "starts.node AS cur FROM starts CROSS JOIN w)")
    for (i <- 1 to length)
      sb.append(s", s$i AS (SELECT x.start, x.walk, adj.dst AS cur " +
        s"FROM s${i - 1} x JOIN deg ON deg.src = x.cur " +
        s"JOIN adj ON adj.src = x.cur AND adj.idx = " +
        s"CAST('0x' || substr(md5(CAST(x.start AS VARCHAR) || ':' || " +
        s"CAST(x.walk AS VARCHAR) || ':' || '$i' || ':' || " +
        s"CAST(x.cur AS VARCHAR)), 1, 15) AS BIGINT) % deg.outdeg)")
    sb.append((0 to length).map(i =>
      s" SELECT CAST(start AS BIGINT) AS start, CAST(walk AS BIGINT) AS walk, " +
        s"CAST($i AS BIGINT) AS step, CAST(cur AS BIGINT) AS node FROM s$i")
      .mkString(" UNION ALL"))
    sb.toString
  }

  private val Bm25OracleCtes: String =
    "base AS (SELECT doc_id, " +
      "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl, " +
      "list_filter(string_split_regex(trim(text), '\\s+'), " +
      "t -> t IN ('merge', 'window', 'table')) AS hits FROM documents), " +
      "st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base), " +
      "tf AS (SELECT doc_id, dl, t AS term, count(*) AS tf FROM " +
      "(SELECT doc_id, dl, unnest(hits) AS t FROM base) GROUP BY doc_id, dl, t), " +
      "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
      "sc AS (SELECT tf.doc_id, tf.term, " +
      "((CAST(st.n_docs - dft.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
      "(CAST(dft.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) * " +
      "((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) / " +
      "(CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * " +
      "((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * " +
      "(CAST(tf.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))) AS s " +
      "FROM tf JOIN dft USING (term) CROSS JOIN st), " +
      "g AS (SELECT doc_id, count(*) AS n_terms, " +
      "list_sum(array_agg(s ORDER BY term)) AS bm25 FROM sc GROUP BY doc_id)"

  /** Per-(group, value) collapse + cumulative window + lower-median pick
    * — shared verbatim by q_weighted_median and its sort-free refinement
    * twin (output-identical by contract). */
  private val WeightedMedianOracleSql: String =
    "WITH b AS (SELECT l_returnflag, " +
      "CAST(round(l_extendedprice * 100) AS BIGINT) AS v, " +
      "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w " +
      "FROM lineitem GROUP BY 1, 2), " +
      "c AS (SELECT l_returnflag, v, " +
      "sum(w) OVER (PARTITION BY l_returnflag ORDER BY v " +
      "ROWS UNBOUNDED PRECEDING) AS cum, " +
      "sum(w) OVER (PARTITION BY l_returnflag) AS tot FROM b) " +
      "SELECT l_returnflag, CAST(min(v) AS BIGINT) AS weighted_median, " +
      "CAST(max(tot) AS BIGINT) AS w_total " +
      "FROM c WHERE cum * 2 >= tot GROUP BY 1"

  /** Lead-bounded TWAP step integral — shared verbatim by q_twap and its
    * hot-key-resistant salted twin (output-identical by contract). */
  private val TwapOracleSql: String =
    "WITH t AS (SELECT event_type, epoch_us(ts) AS eus, event_id, " +
      "CAST(round(value * 100) AS BIGINT) AS cents " +
      "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), " +
      "l AS (SELECT event_type, cents, eus, lead(eus) OVER " +
      "(PARTITION BY event_type ORDER BY eus ASC, event_id ASC) AS nxt FROM t) " +
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals, " +
      "CAST(sum(nxt - eus) AS BIGINT) AS dur_us, " +
      "CAST(sum(cents * (nxt - eus)) AS BIGINT) AS weighted_cents_us, " +
      "CAST(sum(cents * (nxt - eus)) AS BIGINT) // " +
      "greatest(CAST(sum(nxt - eus) AS BIGINT), 1) AS twap_cents " +
      "FROM l WHERE nxt IS NOT NULL GROUP BY 1"

  /** Brute-force cross-set Jaccard between the rebuilt batch and the
    * corpus — shared verbatim by q_dedup_incremental and its
    * Bloom-screened twin (the screen must be result-invariant). */
  private val IncrementalOracleSql: String =
    "WITH bt AS (SELECT doc_id + 1000000 AS new_id, text FROM documents WHERE doc_id % 10 = 0), " +
      "ga AS (SELECT new_id, unnest(list_distinct(list_transform(" +
      "range(1, length(text)-3), i -> substr(text, i, 5)))) AS gram FROM bt), " +
      "gb AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, length(text)-3), i -> substr(text, i, 5)))) AS gram FROM documents), " +
      "sa AS (SELECT new_id, count(*) AS sz FROM ga GROUP BY new_id), " +
      "sb AS (SELECT doc_id, count(*) AS sz FROM gb GROUP BY doc_id), " +
      "co AS (SELECT a.new_id, b.doc_id AS corpus_id, count(*) AS inter " +
      "FROM ga a JOIN gb b USING (gram) GROUP BY 1, 2) " +
      "SELECT co.new_id AS new_id, co.corpus_id AS corpus_id FROM co " +
      "JOIN sa ON sa.new_id = co.new_id JOIN sb ON sb.doc_id = co.corpus_id " +
      "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8"

  /** Shared CTEs for the BPE-id oracles (q_text_token_ids, q_examples):
    * the fixture merge table, the pre-tokenizer, the recursive merge-loop
    * replay per distinct pre-token, the deterministic id mapping
    * (codepoint / 0x110000 + min forming rank), and the per-pre-token
    * comma-joined id strings. Callers append their own per-doc tail. */
  private val BpeIdsCtes: String =
    s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValues}), " +
      "formed AS (SELECT lhs || rhs AS tokstr, min(rnk) AS r FROM m GROUP BY 1), " +
      "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
      "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM documents), " +
      "occ AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS widx FROM pre), " +
      "vocab AS (SELECT DISTINCT tok FROM occ), " +
      "steps(tok, s) AS (" +
      "SELECT tok, chr(31) || array_to_string(string_split(tok, ''), chr(31)) || chr(31) FROM vocab " +
      "UNION ALL " +
      "SELECT tok, substr(s, 1, idx - 1) || chr(31) || lhs || rhs || chr(31) " +
      "|| substr(s, idx + length(chr(31) || lhs || chr(31) || rhs || chr(31))) " +
      "FROM (SELECT st.tok, st.s, best.lhs, best.rhs, " +
      "strpos(st.s, chr(31) || best.lhs || chr(31) || best.rhs || chr(31)) AS idx " +
      "FROM steps st, LATERAL (SELECT m.lhs, m.rhs FROM m " +
      "WHERE strpos(st.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0 " +
      "ORDER BY m.rnk LIMIT 1) AS best) t), " +
      "fin AS (SELECT tok, s FROM steps t WHERE NOT EXISTS (SELECT 1 FROM m " +
      "WHERE strpos(t.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0)), " +
      "toklist AS (SELECT tok, unnest(string_split(substr(s, 2, length(s) - 2), chr(31))) AS t, " +
      "generate_subscripts(string_split(substr(s, 2, length(s) - 2), chr(31)), 1) AS ti FROM fin), " +
      "ids AS (SELECT tl.tok, tl.ti, CASE WHEN length(tl.t) = 1 " +
      "THEN CAST(unicode(tl.t) AS BIGINT) ELSE 1114112 + f.r END AS id " +
      "FROM toklist tl LEFT JOIN formed f ON f.tokstr = tl.t), " +
      "pertok AS (SELECT tok, string_agg(CAST(id AS VARCHAR), ',' ORDER BY ti) AS ids_str " +
      "FROM ids GROUP BY tok)"

  /** Shared CTEs for the PQ oracles: the md5-ordered 16-code codebook,
    * the vec_id=0 query, and the 8-subspace index table. */
  private val PqCommonCtes: String =
    "cb AS (SELECT embedding AS v, row_number() OVER " +
      "(ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code " +
      "FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16), " +
      "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
      "sub AS (SELECT unnest(range(0, 8)) AS s), "

  /** PQ encode + ADC tail over a `src(vec_id, embedding)` CTE: argmin code
    * per (vec, subspace) with sequential (a-b)*(a-b) accumulation, ADC as
    * an s-ordered list_sum (sequential like the JVM loop), total
    * (adc, vec_id) tie-break. */
  private val PqOracleTail: String =
    "enc0 AS (SELECT e.vec_id, sub.s, cb.code, " +
      "list_sum(list_transform(range(1, 9), j -> " +
      "(CAST(e.embedding[CAST(sub.s * 8 + j AS INT)] AS DOUBLE) - " +
      "CAST(cb.v[CAST(sub.s * 8 + j AS INT)] AS DOUBLE)) * " +
      "(CAST(e.embedding[CAST(sub.s * 8 + j AS INT)] AS DOUBLE) - " +
      "CAST(cb.v[CAST(sub.s * 8 + j AS INT)] AS DOUBLE)))) AS d " +
      "FROM src e CROSS JOIN sub CROSS JOIN cb), " +
      "enc AS (SELECT vec_id, s, code FROM (SELECT vec_id, s, code, " +
      "row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, code ASC) AS rn " +
      "FROM enc0) WHERE rn = 1), " +
      "qtab AS (SELECT sub.s, cb.code, " +
      "list_sum(list_transform(range(1, 9), j -> " +
      "(CAST(q.qv[CAST(sub.s * 8 + j AS INT)] AS DOUBLE) - " +
      "CAST(cb.v[CAST(sub.s * 8 + j AS INT)] AS DOUBLE)) * " +
      "(CAST(q.qv[CAST(sub.s * 8 + j AS INT)] AS DOUBLE) - " +
      "CAST(cb.v[CAST(sub.s * 8 + j AS INT)] AS DOUBLE)))) AS d " +
      "FROM q CROSS JOIN sub CROSS JOIN cb), " +
      "adc AS (SELECT e.vec_id, list_sum(array_agg(t.d ORDER BY e.s)) AS a " +
      "FROM enc e JOIN qtab t ON t.s = e.s AND t.code = e.code GROUP BY e.vec_id) " +
      "SELECT vec_id FROM adc ORDER BY a ASC, vec_id ASC LIMIT 10"

  /** Shared CTE chain for the span-dedup oracles: word-aligned gram
    * occurrences (1-based i → 0-based pos), ≥2-doc digests, and the
    * gaps-and-islands merge to disjoint per-doc spans — identical between
    * q_dedup_spans (aggregates it) and q_dedup_clean (splices with it). */
  private val SharedSpanCtes: String =
    "occ AS (SELECT doc_id, text, unnest(range(1, len(text) - 38)) AS i " +
      "FROM documents WHERE len(text) >= 40), " +
      "pg AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, " +
      "md5(substr(text, CAST(i AS INT), 40)) AS g FROM occ " +
      "WHERE i = 1 OR substr(text, CAST(i AS INT) - 1, 1) = ' '), " +
      "nd AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS ndocs " +
      "FROM pg GROUP BY g) WHERE ndocs >= 2), " +
      "sh AS (SELECT doc_id, pos FROM pg JOIN nd USING (g)), " +
      "isl AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos + 40) OVER " +
      "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) " +
      "THEN 1 ELSE 0 END AS ni FROM sh), " +
      "isl2 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM isl), " +
      "spans AS (SELECT doc_id, island, min(pos) AS s, max(pos + 40) AS e " +
      "FROM isl2 GROUP BY doc_id, island)"

  /** The q_split manifest and its cumulative thresholds (shared between
    * the Spark query and the generated oracle CASE — the cumulative sums
    * are computed ONCE so both sides carry identical double rounding). */
  private val SplitWeights: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val SplitCumHex: Seq[(String, String)] = {
    val cum = SplitWeights.init.scanLeft(0.0)(_ + _._2).tail
    SplitWeights.init.map(_._1).zip(cum.map(Sampling.fractionThresholdHex))
  }

  /** The q_sample_mix mixture manifest: per-source keep fractions (shared
    * between the Spark query and the generated oracle CASE). */
  private val MixFractions: Seq[(String, Double)] = Seq(
    "src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125, "src3" -> 0.75)

  /** The q_sample_budget manifest: per-source token budgets (shared between
    * the Spark query and the generated oracle CASE). Values sit below each
    * source's sf0.01 token total so the budget actually bites. */
  private val BudgetTokens: Seq[(String, Long)] = Seq(
    "src0" -> 2000L, "src1" -> 1000L, "src2" -> 500L, "src3" -> 3000L)

  /** The q_sample_epochs manifest: per-source epoch multipliers, with the
    * fractional-part thresholds hex-rendered ONCE so both engines compare
    * against identical literals (the SplitCumHex pattern). */
  private val EpochFactors: Seq[(String, Double)] = Seq(
    "src0" -> 2.0, "src1" -> 0.5, "src2" -> 1.25, "src3" -> 3.5)
  private val EpochHex: Seq[(String, Long, String)] = EpochFactors.map { case (g, ep) =>
    (g, math.floor(ep).toLong, Sampling.fractionThresholdHex(ep - math.floor(ep)))
  }

  /** Corpus text + decomposed-accent and whitespace mess appended by doc_id
    * rule — the fixture half of q_text_normalize ("́" is the combining
    * acute: "CAFE"+U+0301 is the DEcomposed form NFC must compose). */
  private def normalizeFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("  CAFE\u0301\tMixed Case")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("\ntail  space   ")).otherwise(lit("")))

  /** Corpus text + multi-byte-char tails keyed on doc_id — the fixture half
    * of q_text_tokens_bpe_bytes (byte-level BPE must split these into UTF-8
    * byte symbols: 2-byte accents, a 3-byte ellipsis, a 4-byte emoji whose
    * final byte stays unmerged). */
  private def bpeByteFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit(" caf\u00e9 d\u00e9j\u00e0 vu\u2026")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit(" \uD83D\uDE00ok")).otherwise(lit("")))

  /** Corpus text wrapped in cross-doc boilerplate lines — the fixture half
    * of q_dedup_lines (the oracle rebuilds the same text): one of 5 shared
    * header lines (kept only in its minimal doc), the original single-line
    * body (deduped across exact-duplicate docs), and a footer line shared
    * by all even docs (kept only in doc 0). */
  private def lineDedupFixtureText: Column =
    concat(
      lit("shared header line for corpus group "),
      pmod(col("doc_id"), lit(5)).cast("string"),
      lit("\n"), col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("\nshared even-documents footer boilerplate line")).otherwise(lit("")))

  /** Corpus text rebuilt as blank-line-separated paragraphs — the fixture
    * half of q_dedup_paragraphs (the oracle rebuilds the same text): a
    * shared intro paragraph per doc_id%6 group (kept only in its minimal
    * doc), the original body, and a closing paragraph shared by all even
    * docs (kept only in doc 0). */
  private def paragraphFixtureText: Column =
    concat(
      lit("shared introductory paragraph for corpus group "),
      pmod(col("doc_id"), lit(6)).cast("string"),
      lit("\n\n"), col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("\n\nshared closing paragraph across all even documents"))
        .otherwise(lit("")))

  /** Corpus text rebuilt as a page with one line per boilerplate rule,
    * keyed on doc_id — the fixture half of q_boilerplate (the oracle
    * rebuilds the same text): the body gets terminal punctuation (kept
    * prose), then planted nav/url/shouty/short lines trip each rule, a
    * blank line tests structure preservation, and a second prose line
    * tests multi-keep. */
  private def boilerplateFixtureText: Column =
    concat(
      col("text"), lit("."),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("\nClick here to subscribe")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("\nVisit http://example.com/page for more details today."))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit("\nBREAKING NEWS UPDATES EVERY HOUR TODAY.")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit("\n\nThis closing paragraph is long enough and it ends properly."))
        .otherwise(lit("")))

  /** Corpus text + quality-rule-tripping tails by doc_id rule — the fixture
    * half of q_quality_rules (the oracle rebuilds the same text): stopword
    * tail flips r_stopwords, 10 bullet lines flip r_bullet_lines (10 of 11
    * lines > 90%), two "..." trailers flip r_ellipsis_lines and feed the
    * ellipsis-symbol count. */
  /** Planted n-gram repetition: the gate corpus has no natural repeated
    * ≥5-grams (checked), so docs keyed on doc_id get a doubled phrase —
    * 8 words twice (dup 5-grams) and 12 words twice (dup 10-grams). */
  // `final` with a literal → compile-time constants, safe to reference
  // from vals declared earlier in the object (no init-order NPE)
  private final val CjkTail =
    "数据清洗流水线质量检查数据清洗流水线质量检查数据清洗流水线质量检查数据清洗流水线质量检查"
  // sentence-span fixture: cross-doc shared 3-sentence span (%3) and a
  // within-doc doubled 3-sentence span (%5); the base corpus has no
  // sentence punctuation, so each base doc is one piece
  private final val sent3Tail =
    ". Alpha beta gamma one. Delta epsilon two. Zeta eta theta three."
  private final val sent5Tail =
    " Repeat me once. Repeat me twice. Repeat me thrice." +
      " Repeat me once. Repeat me twice. Repeat me thrice."
  private final val rep5Phrase = " quick brown fox jumps over lazy dog again"
  private final val rep10Phrase = " one two three four five six seven eight nine ten eleven twelve"
  private def repetitionFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(5)) === 0, lit(rep5Phrase + rep5Phrase))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6)) === 0, lit(rep10Phrase + rep10Phrase))
        .otherwise(lit("")))

  private def qualityFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit(" the cat is on the mat and it was here")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit(Seq.fill(10)("\n- item").mkString)).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        lit("\ntrail one...\ntrail two...")).otherwise(lit("")))

  /** Corpus text with synthetic PII appended as pure functions of doc_id —
    * the fixture half of q_pii_redact (the oracle rebuilds the same text). */
  private def piiFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit(" call 555-"), (pmod(col("doc_id"), lit(900)) + 100).cast("string"),
          lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0.1"))).otherwise(lit("")))

  /**
   * Brute-force distinct-char-5-gram Jaccard pairs at threshold 0.8,
   * expressed as DuckDB CTEs (inverted shingle index + co-occurrence
   * counts — ~40× faster than per-pair list_intersect). Valid as the
   * oracle for the MinHash-LSH pairs because the seeded LSH is
   * deterministic and its delivered recall at the gate sf is 1.0 (64
   * hashes / 16 bands: detection prob ≥ 1-(1-0.8^4)^16 ≈ 0.9998 at the
   * threshold, higher above it; pinned by PipelineSpec's brute-force
   * recall tests), so LSH pairs == brute-force pairs. Gram semantics
   * mirror TextCore.shingleHashes: distinct 5-char substrings (gate
   * corpus is all-ASCII with min length 48, so no short-text edge cases).
   */
  private val JaccardPairsCtes =
    "g AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, length(text)-3), i -> substr(text, i, 5)))) AS gram FROM documents), " +
      "sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id), " +
      "co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
      "FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "jpairs AS (SELECT id_a, id_b FROM co " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8)"

  /**
   * Bit-exact DuckDB reproduction of TextCore.simhash64: polynomial rolling
   * hash (31·h + char, 64-bit wraparound via HUGEINT mod 2^64) per distinct
   * 5-gram, SplitMix64 finalizer (wrap-multiplies decomposed into 32-bit
   * hi/lo halves so the 128-bit intermediate never overflows HUGEINT),
   * then per-bit ±1 majority vote. Verified stage-by-stage against the JVM
   * implementation. Pairs = hamming(simhash_a, simhash_b) ≤ 3, which is
   * exactly what the chunked-pigeonhole LSH emits (sound AND complete for
   * maxHamming ≤ 3, and no bucket exceeds the cap at gate sf).
   */
  private val SimhashPairsSql: String = {
    val B = "18446744073709551616" // 2^64
    "WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, length(text)-3), i -> substr(text, i, 5)))) AS gram FROM documents), " +
      "ph AS (SELECT doc_id, " +
      s"(((((((((1125899906842597::HUGEINT * 31 + unicode(substr(gram,1,1))) % $B) * 31 " +
      s"+ unicode(substr(gram,2,1))) % $B) * 31 + unicode(substr(gram,3,1))) % $B) * 31 " +
      s"+ unicode(substr(gram,4,1))) % $B) * 31 + unicode(substr(gram,5,1))) % $B AS p FROM g), " +
      "mx AS (SELECT doc_id, " +
      s"(p + 11400714819323198485::HUGEINT) % $B AS z1, " +
      "xor(z1, z1 >> 30) AS z2, " +
      s"((z2 * 484763065) % $B + ((z2 * 3210233709) % 4294967296) * 4294967296) % $B AS z3, " +
      "xor(z3, z3 >> 27) AS z4, " +
      s"((z4 * 321982955) % $B + ((z4 * 2496678331) % 4294967296) * 4294967296) % $B AS z5, " +
      "xor(z5, z5 >> 31) AS h FROM ph), " +
      "bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS cnt " +
      "FROM mx CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bl GROUP BY doc_id, b), " +
      "sh AS (SELECT doc_id, sum(CASE WHEN cnt > 0 THEN (1::HUGEINT << b) " +
      "ELSE 0::HUGEINT END)::UBIGINT AS s FROM bits GROUP BY doc_id) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.s, b.s)) <= 3"
  }

  // the salted twins must equal their unsalted counterparts exactly,
  // so they share the oracle SQL; the incremental cluster-maintenance
  // gate's CONTRACT is equality with the full recompute, so it shares
  // the full-recompute oracle verbatim
  def oracleSql: Map[String, String] = oracleSqlCore ++ Map(
    "q_join_asof_salted" -> oracleSqlCore("q_join_asof"),
    "q_sessionize_salted" -> oracleSqlCore("q_sessionize"),
    "q_dedup_clusters_incr" -> oracleSqlCore("q_dedup_clusters"),
    "q_dedup_keeplist_incr" -> oracleSqlCore("q_dedup_keeplist"),
    // the connectivity-sufficient label path is output-identical to
    // clusters(minhashLshPairs(...)) by construction — same oracle verbatim
    "q_dedup_labels" -> oracleSqlCore("q_dedup_clusters"))

  private def oracleSqlCore: Map[String, String] = Map(
    "q_dedup_minhash" -> s"WITH $JaccardPairsCtes SELECT id_a, id_b FROM jpairs",

    // brute-force 13-WORD-gram Jaccard over the shared [a-z]+ token
    // stream; short docs (< 13 tokens) contribute one whole-doc gram —
    // the operator's short-text convention
    "q_dedup_minhash_words" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS t FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_distinct(" +
        "CASE WHEN len(t) = 0 THEN [] " +
        "WHEN len(t) < 13 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(range(1, len(t) - 11), i -> array_to_string(t[i:i+12], ' ')) " +
        "END)) AS gram FROM toks), " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1), " +
        "co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b FROM co " +
        "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8"),

    // decontamination replay: same shared tokenizer + 13-word grams as
    // q_dedup_minhash_words (whole-text gram under 13 tokens), gram
    // STRINGS standing in for the hash values (collision-free convention);
    // distinct-gram join per (eval, train) side, then the hit counts and
    // flag — zeros restored by the left join
    "q_decontaminate" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS t FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_distinct(" +
        "CASE WHEN len(t) = 0 THEN [] " +
        "WHEN len(t) < 13 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(range(1, len(t) - 11), i -> array_to_string(t[i:i+12], ' ')) " +
        "END)) AS gram FROM toks), " +
        "bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 101 = 0), " +
        "hits AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n FROM g " +
        "JOIN bg USING (gram) WHERE g.doc_id % 101 <> 0 GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(h.n, 0) AS n_shared_grams, " +
        "CAST(CASE WHEN coalesce(h.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated " +
        "FROM documents d LEFT JOIN hits h USING (doc_id) WHERE d.doc_id % 101 <> 0"),

    // exact prefix-filtered Jaccard join: same pair set, exact by design
    "q_dedup_ngram" -> s"WITH $JaccardPairsCtes SELECT id_a, id_b FROM jpairs",

    "q_dedup_simhash" -> SimhashPairsSql,

    // min-label fixpoint over the same brute-force pair set: transitive
    // closure by recursive CTE, then the minimum reachable id per node —
    // identical semantics to Dedup.clusters' converged labels. The
    // closure is seeded ONLY from LOCAL-MINIMUM nodes (id < every
    // neighbor): each component's global min is a local min, so every
    // node still receives its component min, but the reach table holds
    // Σ_localmin |component| rows instead of Σ |component|² — on the
    // clique-heavy replicated corpora (sf1 replay) that is ONE seed per
    // clique and a ~linear closure (the brute form spilled ~76 GB)
    "q_dedup_clusters" ->
      (s"WITH RECURSIVE $JaccardPairsCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs " +
        "UNION ALL SELECT id_b, id_a FROM jpairs), " +
        "roots AS (SELECT src AS id FROM edges GROUP BY src HAVING src < min(dst)), " +
        "reach(id, r) AS (SELECT id, id FROM roots " +
        "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src) " +
        "SELECT id, min(r) AS cluster FROM reach GROUP BY id"),

    // the keep-list replay: same closure + keeper as q_dedup_canonical,
    // then the singleton restore — every document outside the pair graph
    // keeps itself (its id can never equal a component label, which is
    // always the min MEMBER id of a ≥2-doc component)
    "q_dedup_keeplist" ->
      (s"WITH RECURSIVE $JaccardPairsCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs " +
        "UNION ALL SELECT id_b, id_a FROM jpairs), " +
        "roots AS (SELECT src AS id FROM edges GROUP BY src HAVING src < min(dst)), " +
        "reach(id, r) AS (SELECT id, id FROM roots " +
        "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src), " +
        "lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id), " +
        "j AS (SELECT d.doc_id AS id, coalesce(lab.cluster, d.doc_id) AS cluster, " +
        "CAST(d.n_chars AS BIGINT) AS sc FROM documents d " +
        "LEFT JOIN lab ON d.doc_id = lab.id), " +
        "k AS (SELECT cluster, id AS keeper FROM (SELECT cluster, id, " +
        "row_number() OVER (PARTITION BY cluster " +
        "ORDER BY sc DESC NULLS LAST, id ASC) AS rn FROM j) WHERE rn = 1) " +
        "SELECT j.id, j.cluster, k.keeper, " +
        "CAST(CASE WHEN j.id = k.keeper THEN 1 ELSE 0 END AS BIGINT) AS is_keeper " +
        "FROM j JOIN k USING (cluster)"),

    // same local-min-seeded transitive-closure labeling, then the keeper
    // window replay: argmax by (n_chars DESC NULLS LAST, id ASC) per cluster
    "q_dedup_canonical" ->
      (s"WITH RECURSIVE $JaccardPairsCtes, " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs " +
        "UNION ALL SELECT id_b, id_a FROM jpairs), " +
        "roots AS (SELECT src AS id FROM edges GROUP BY src HAVING src < min(dst)), " +
        "reach(id, r) AS (SELECT id, id FROM roots " +
        "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src), " +
        "lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id), " +
        "j AS (SELECT lab.id, lab.cluster, CAST(d.n_chars AS BIGINT) AS sc " +
        "FROM lab JOIN documents d ON lab.id = d.doc_id), " +
        "k AS (SELECT cluster, id AS keeper FROM (SELECT cluster, id, " +
        "row_number() OVER (PARTITION BY cluster " +
        "ORDER BY sc DESC NULLS LAST, id ASC) AS rn FROM j) WHERE rn = 1) " +
        "SELECT j.id, j.cluster, k.keeper, " +
        "CAST(CASE WHEN j.id = k.keeper THEN 1 ELSE 0 END AS BIGINT) AS is_keeper " +
        "FROM j JOIN k USING (cluster)"),

    "q_scan_project" ->
      ("SELECT l_orderkey, l_linenumber, l_returnflag, CAST(l_quantity AS BIGINT) AS qty " +
        "FROM lineitem WHERE l_quantity < 25"),

    // Independent geohash re-derivation: closed-form cell index
    // floor((coord - lo) / range * 2^30) == the encoder's 30-step bisection
    // (boundaries are dyadic; the nearest tenth-degree input sits ≥4.5e-3
    // index units from any boundary vs ~1e-7 FP error, margin ~5e4), then
    // lon/lat bit interleave + base32, all in DuckDB list lambdas.
    "q_geohash_keys" ->
      (s"WITH idx AS (SELECT l_orderkey, l_linenumber, " +
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

    "q_dedup_ingest" -> "SELECT DISTINCT p_brand, p_type FROM part",

    // replays WHICH lines the gate corrupted (doc_id % 13) — the file
    // round-trip is the Spark-side reality, the classification is the
    // engine-independent contract
    "q_ingest_jsonl" ->
      ("SELECT CASE WHEN doc_id % 13 = 0 THEN '__corrupt' ELSE source END AS src, " +
        "count(*) AS n, " +
        "CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY 1"),

    // grid-density replay: same bit-interleave as the q_geohash_keys
    // oracle, truncated to the 2-char cell prefix, then the group summary
    "q_grid_density" ->
      (s"WITH idx AS (SELECT lon, lat, " +
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

    "q_prefix_filter" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_name LIKE 'Customer#000001%'",

    "q_within_rect" ->
      (s"SELECT l_orderkey, l_linenumber, lon, lat FROM ($PointsSql) " +
        "WHERE lon BETWEEN -150.05 AND -100.05 AND lat BETWEEN -40.05 AND 10.05"),

    "q_within_poly" ->
      s"SELECT l_orderkey, l_linenumber, lon, lat FROM ($PointsSql) WHERE $DiamondSql",

    // rect member = bbox test; LINESTRING member = exact lon equality
    // (the grid value -150.0 is exact in both engines); POINT member is
    // off-grid and contributes nothing
    "q_within_collection" ->
      (s"SELECT l_orderkey, l_linenumber, lon, lat FROM ($PointsSql) " +
        "WHERE (lon BETWEEN -60.05 AND -20.05 AND lat BETWEEN 20.05 AND 60.05) " +
        "OR lon = -150.0"),

    "q_within_pruned" ->
      (s"SELECT l_orderkey, l_linenumber, lon, lat FROM ($PointsSql) " +
        "WHERE lon BETWEEN -150.05 AND -100.05 AND lat BETWEEN -40.05 AND 10.05"),

    "q_knn" ->
      (s"SELECT l_orderkey, l_linenumber, " +
        "CAST(round(((lon + 80.05)*(lon + 80.05) + (lat + 15.05)*(lat + 15.05)) * 400) AS BIGINT) AS d2_q " +
        s"FROM ($PointsSql) " +
        "ORDER BY (lon + 80.05)*(lon + 80.05) + (lat + 15.05)*(lat + 15.05) ASC, " +
        "l_orderkey ASC, l_linenumber ASC LIMIT 20"),

    "q_topx" ->
      ("SELECT user_id, event_id, ts_ms FROM (" +
        "SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000 ASC, event_id ASC) AS rn " +
        "FROM events) WHERE rn <= 3"),

    "q_topx_agg" ->
      ("SELECT user_id, event_id, ts_ms FROM (" +
        "SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000 ASC, event_id ASC) AS rn " +
        "FROM events) WHERE rn <= 3"),

    "q_topx_bin" ->
      ("SELECT bin, o_orderkey FROM (" +
        "SELECT o_orderkey % 10 AS bin, o_orderkey, " +
        "row_number() OVER (PARTITION BY o_orderkey % 10 ORDER BY o_orderkey ASC) AS rn " +
        "FROM orders) WHERE rn <= 2"),

    // c_name is unique, so the ORDER BY ... LIMIT picks a deterministic set
    "q_topx_bin_limit" ->
      ("SELECT c_custkey, c_name FROM (" +
        "SELECT c_custkey, c_name, " +
        "row_number() OVER (PARTITION BY substring(c_name, 17, 1) ORDER BY c_name ASC) AS rn " +
        "FROM customer WHERE c_name >= 'Customer#000000' AND c_name < 'Customer#000001') " +
        "WHERE rn <= 2 ORDER BY c_name ASC LIMIT 15"),

    "q_count_distinct" ->
      ("SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders " +
        "FROM orders GROUP BY o_orderstatus"),

    "q_agg_q1" ->
      ("SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e4, " +
        "count(*) AS n_rows FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-01' GROUP BY l_returnflag, l_linestatus"),

    "q_join_bcast" ->
      ("SELECT r_name, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"),

    "q_join_semi" ->
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),

    "q_join_anti" ->
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_totalprice > 300000.0)"),

    "q_join_full" ->
      ("SELECT c_custkey, c_name, o_custkey, n_big FROM " +
        "(SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') seg " +
        "FULL OUTER JOIN " +
        "(SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_big FROM orders " +
        "WHERE o_totalprice > 400000.0 GROUP BY o_custkey) big " +
        "ON seg.c_custkey = big.o_custkey"),

    "q_distance_join" ->
      (s"WITH a AS ($CustPointsSql), b AS ($SuppPointsSql) " +
        "SELECT a.c_custkey AS a_c_custkey, b.s_suppkey AS b_s_suppkey, " +
        "CAST(round(((a.lon - b.lon)*(a.lon - b.lon) + (a.lat - b.lat)*(a.lat - b.lat)) * 100) AS BIGINT) AS d2_centi " +
        "FROM a, b WHERE (a.lon - b.lon)*(a.lon - b.lon) + (a.lat - b.lat)*(a.lat - b.lat) <= 25.0"),

    "q_knn_join" ->
      (s"WITH a AS ($CustPointsSql), b AS ($SuppPointsSql), " +
        "j AS (SELECT a.c_custkey AS a_c_custkey, b.s_suppkey AS b_s_suppkey, " +
        "sqrt((a.lon - b.lon)*(a.lon - b.lon) + (a.lat - b.lat)*(a.lat - b.lat)) AS distance " +
        "FROM a, b WHERE (a.lon - b.lon)*(a.lon - b.lon) + (a.lat - b.lat)*(a.lat - b.lat) <= 100.0) " +
        "SELECT a_c_custkey, b_s_suppkey FROM (" +
        "SELECT a_c_custkey, b_s_suppkey, " +
        "row_number() OVER (PARTITION BY a_c_custkey ORDER BY distance ASC, b_s_suppkey ASC) AS rn " +
        "FROM j) WHERE rn <= 3"),

    // the raw range join — bucketing is a candidate superset re-checked
    // by the exact predicate, so results must be identical; i*500.0 is
    // the same IEEE double in both engines
    "q_join_interval" ->
      ("WITH tiers AS (SELECT i AS tier, i * 500.0 AS lo, (i + 1) * 500.0 AS hi " +
        "FROM range(-2, 20) t(i)) " +
        "SELECT c.c_custkey, t.tier FROM customer c JOIN tiers t " +
        "ON c.c_acctbal >= t.lo AND c.c_acctbal < t.hi"),

    // brute-force quadratic on the tiny distinct-name table — PassJoin's
    // blocking is exact, so the candidate-verified result must equal it
    "q_join_fuzzy" ->
      ("WITH names AS (SELECT min(p_partkey) AS id, p_name AS t FROM part GROUP BY p_name) " +
        "SELECT a.id AS id_a, b.id AS id_b, " +
        "CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist " +
        "FROM names a JOIN names b ON a.id < b.id " +
        "WHERE levenshtein(a.t, b.t) <= 2"),

    "q_join_fuzzy_incr" ->
      ("WITH names AS (SELECT min(p_partkey) AS id, p_name AS t FROM part GROUP BY p_name) " +
        "SELECT a.id AS id_l, b.id AS id_r, " +
        "CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist " +
        "FROM names a JOIN names b ON a.id % 2 = 0 AND b.id % 2 = 1 " +
        "AND levenshtein(a.t, b.t) <= 2"),

    "q_salted_count" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",

    "q_union_dedup" ->
      ("SELECT DISTINCT p_partkey, p_name FROM (" +
        "SELECT p_partkey, p_name FROM part WHERE p_size < 10 " +
        "UNION ALL SELECT p_partkey, p_name FROM part WHERE p_retailprice < 1200.0)"),

    "q_sort_limit" ->
      ("SELECT p_partkey, p_name, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents " +
        "FROM part ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 50"),

    "q_intersect" ->
      ("SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0 " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice < 50000.0"),

    "q_except" ->
      ("SELECT o_custkey FROM orders " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0"),

    "q_window_funcs" ->
      ("SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents, " +
        "lag(c_custkey, 1) OVER w AS prev_cust, " +
        "lead(c_custkey, 1) OVER w AS next_cust, " +
        "CAST(rank() OVER w AS BIGINT) AS rnk, " +
        "CAST(dense_rank() OVER w AS BIGINT) AS drnk, " +
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile " +
        "FROM customer " +
        "WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)"),

    "q_window_running" ->
      ("SELECT o_custkey, o_orderkey, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderkey ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents " +
        "FROM orders"),

    "q_join_asof" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms, event_type FROM events), " +
        "err AS (SELECT user_id, event_id, ts_ms FROM e WHERE event_type = 'error'), " +
        "clk AS (SELECT user_id, ts_ms, max(event_id) AS click_id FROM e " +
        "WHERE event_type = 'click' GROUP BY user_id, ts_ms) " +
        "SELECT err.event_id AS event_id, clk.click_id AS asof_event_id " +
        "FROM err ASOF JOIN clk ON err.user_id = clk.user_id AND err.ts_ms >= clk.ts_ms"),

    // DuckDB's ASOF picks the same latest-≤ match; the tolerance is the
    // same post-filter on the matched timestamp gap
    "q_join_asof_tol" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms, event_type FROM events), " +
        "err AS (SELECT user_id, event_id, ts_ms FROM e WHERE event_type = 'error'), " +
        "clk AS (SELECT user_id, ts_ms, max(event_id) AS click_id FROM e " +
        "WHERE event_type = 'click' GROUP BY user_id, ts_ms) " +
        "SELECT err.event_id AS event_id, clk.click_id AS asof_event_id " +
        "FROM err ASOF JOIN clk ON err.user_id = clk.user_id AND err.ts_ms >= clk.ts_ms " +
        "WHERE err.ts_ms - clk.ts_ms <= 100000000"),

    "q_join_sortmerge" ->
      ("SELECT o_orderpriority, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority"),

    "q_join_range" ->
      ("SELECT l_orderkey, l_linenumber FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 90 DAY"),

    "q_cube" ->
      ("SELECT n_name, c_mktsegment, count(*) AS n_cust FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY CUBE (n_name, c_mktsegment)"),

    "q_rollup" ->
      ("SELECT r_name, n_name, count(*) AS n_cust FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY ROLLUP (r_name, n_name)"),

    "q_grouping_sets" ->
      ("SELECT n_name, c_mktsegment, count(*) AS n_cust FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())"),

    "q_pivot" ->
      ("SELECT o_orderstatus, " +
        OrderPriorities.map(p =>
          s"""CAST(sum(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS "$p"""")
          .mkString(", ") +
        " FROM orders GROUP BY o_orderstatus"),

    "q_percentile" ->
      ("SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS p25, " +
        "quantile_cont(l_quantity, 0.5) AS p50, quantile_cont(l_quantity, 0.75) AS p75 " +
        "FROM lineitem GROUP BY l_returnflag"),

    "q_sample_group" ->
      ("SELECT o_orderkey, o_orderpriority FROM (" +
        "SELECT o_orderkey, o_orderpriority, row_number() OVER (" +
        "PARTITION BY o_orderpriority " +
        "ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn FROM orders) " +
        "WHERE rn <= 200"),

    "q_sample_frac" ->
      (s"SELECT o_orderkey FROM orders " +
        s"WHERE md5(CAST(o_orderkey AS VARCHAR)) < '${Sampling.fractionThresholdHex(0.1)}'"),

    "q_kmeans" -> KmeansOracleSql,

    // same quantization (floor(x*1000 + 0.5) in double — IEEE-unambiguous),
    // same integer sums, same n*e - S score, same (score DESC, id) top-5
    "q_embed_outliers" ->
      ("WITH e AS (SELECT d.source AS grp, v.vec_id AS id, " +
        "list_transform(v.embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qe " +
        "FROM embeddings v JOIN documents d ON v.vec_id = d.doc_id), " +
        "comp0 AS (SELECT grp, id, qe, unnest(range(1, len(qe) + 1)) AS pos FROM e), " +
        "comp AS (SELECT grp, id, pos, qe[CAST(pos AS INT)] AS v FROM comp0), " +
        "sums AS (SELECT grp, pos, sum(v) AS s, count(*) AS n FROM comp GROUP BY grp, pos), " +
        "sc AS (SELECT c.grp, c.id, sum((n * v - s) * (n * v - s)) AS score " +
        "FROM comp c JOIN sums USING (grp, pos) GROUP BY c.grp, c.id), " +
        "r AS (SELECT grp, id, score, row_number() OVER " +
        "(PARTITION BY grp ORDER BY score DESC, id) AS rn FROM sc) " +
        "SELECT grp AS source, id AS vec_id, CAST(score AS BIGINT) AS dist_score " +
        "FROM r WHERE rn <= 5"),

    // split bands re-derived from the same cumulative hex thresholds
    "q_split" ->
      ("SELECT doc_id, CASE " +
        SplitCumHex.map { case (n, h) =>
          s"WHEN md5(CAST(doc_id AS VARCHAR)) < '$h' THEN '$n' "
        }.mkString +
        s"ELSE '${SplitWeights.last._1}' END AS split FROM documents"),

    "q_folds" ->
      ("SELECT doc_id, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
        "AS BIGINT) % 5 AS fold FROM documents"),

    // the full stage-1/2/4/5 curation chain in one SQL: canonical text →
    // min-id-per-canon keep set → quality formula (exact-double filter,
    // milli-rounded only for the hash) → split CASE from the shared
    // cumulative thresholds
    "q_curate" ->
      ("WITH c AS (SELECT doc_id, text, " +
        "trim(regexp_replace(lower(nfc_normalize(text)), '[ \\t\\n\\r]+', ' ', 'g')) AS canon " +
        "FROM documents), " +
        "keep AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY canon), " +
        "f AS (SELECT c.doc_id, c.text FROM c JOIN keep USING (doc_id)), " +
        "sig AS (SELECT doc_id, length(text) AS n_chars, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_words, " +
        "len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s.,;:!?''\"()-]')) AS n_symbol, " +
        "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for|on|are|with|as|at)\\b')) AS n_stop " +
        "FROM f), " +
        "q AS (SELECT doc_id, greatest(0.0, least(1.0, " +
        "0.4 * least(CAST(n_words AS DOUBLE) / 50.0, 1.0) " +
        "+ 0.3 * least((CAST(n_stop AS DOUBLE) / (CAST(n_words AS DOUBLE) + 1.0)) * 5.0, 1.0) " +
        "+ 0.3 * greatest(0.0, 1.0 - (CAST(n_symbol AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 1.0)) * 10.0)" +
        ")) AS score FROM sig) " +
        "SELECT doc_id, CAST(round(score * 1000) AS BIGINT) AS quality_milli, CASE " +
        SplitCumHex.map { case (n, h) =>
          s"WHEN md5(CAST(doc_id AS VARCHAR)) < '$h' THEN '$n' "
        }.mkString +
        s"ELSE '${SplitWeights.last._1}' END AS split " +
        "FROM q WHERE score >= 0.3"),

    // per-source threshold CASE generated from the same mixture manifest;
    // unlisted sources get a NULL threshold, so the comparison drops them
    "q_sample_mix" ->
      ("SELECT doc_id, source FROM documents " +
        "WHERE md5(CAST(doc_id AS VARCHAR)) < CASE source " +
        MixFractions.map { case (g, p) =>
          s"WHEN '$g' THEN '${Sampling.fractionThresholdHex(p)}' "
        }.mkString +
        "END"),

    "q_train_order" ->
      ("SELECT doc_id, row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 " +
        "AS ordinal FROM documents"),

    // mix replay + integer temperature quotas: count per surviving source,
    // isqrt weight, floor(T*w/Σw) quota, (md5(id), id) rank — all integer
    "q_sample_temperature" ->
      ("WITH mixed AS (SELECT doc_id, source FROM documents " +
        "WHERE md5(CAST(doc_id AS VARCHAR)) < CASE source " +
        MixFractions.map { case (g, p) =>
          s"WHEN '$g' THEN '${Sampling.fractionThresholdHex(p)}' "
        }.mkString +
        "END), " +
        "c AS (SELECT source, count(*) AS n FROM mixed GROUP BY source), " +
        "w AS (SELECT source, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c), " +
        "q AS (SELECT source, CAST((24 * w) // (SELECT sum(w) FROM w) AS BIGINT) AS quota FROM w), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn FROM mixed) " +
        "SELECT r.doc_id, r.source FROM r JOIN q USING (source) WHERE rn <= quota"),

    // identical exclusive-cumsum arithmetic over the identical md5 order
    "q_sample_budget" ->
      ("WITH t AS (SELECT doc_id, source, " +
        "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, " +
        "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, " +
        "COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) " +
        "SELECT doc_id, source, n_tokens FROM c WHERE cum < CASE source " +
        BudgetTokens.map { case (g, b) => s"WHEN '$g' THEN $b " }.mkString +
        "END"),

    // same whole + fractional-threshold epoch count, expanded by range()
    "q_sample_epochs" ->
      ("WITH n AS (SELECT doc_id, source, " +
        "(CASE source " +
        EpochHex.map { case (g, w, _) => s"WHEN '$g' THEN $w " }.mkString +
        "END) + (CASE WHEN md5(CAST(doc_id AS VARCHAR)) < CASE source " +
        EpochHex.map { case (g, _, h) => s"WHEN '$g' THEN '$h' " }.mkString +
        "END THEN 1 ELSE 0 END) AS nn FROM documents) " +
        "SELECT doc_id, source, CAST(e AS BIGINT) AS epoch " +
        "FROM n, unnest(range(nn)) AS u(e) WHERE nn > 0"),

    // identical quota arithmetic: floor(frac*n + 0.5) in DOUBLE (the frac
    // literal must be cast — DuckDB's bare 0.15 is DECIMAL) over the same
    // (md5(id), id) rank; greatest() applies the minPerGroup floor
    "q_sample_strat" ->
      ("SELECT doc_id, source FROM (" +
        "SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n FROM documents) " +
        "WHERE rn <= greatest(CAST(2 AS BIGINT), " +
        "CAST(floor(CAST(0.15 AS DOUBLE) * n + 0.5) AS BIGINT))"),

    // same 60-bit md5 prefix (the randomWalks hash idiom), same weight
    // arithmetic, same (h // w, h, id) total order — // and div agree on
    // the non-negative operands. The n_chars IS NOT NULL clause mirrors
    // the Spark side's weight-hygiene filter (weightedSample drops
    // null-weight rows): current fixtures have no null n_chars, but
    // without the clause a nullable fixture would let null-w rows fill
    // slots on the oracle side only (advisor r9)
    "q_sample_weighted" ->
      ("SELECT source, doc_id, w FROM (" +
        "SELECT source, doc_id, w, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY h // w ASC, h ASC, doc_id ASC) AS rn FROM (" +
        "SELECT source, doc_id, n_chars // 100 + 1 AS w, " +
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h " +
        "FROM documents WHERE n_chars IS NOT NULL)) WHERE rn <= 5"),

    // same changeset derivation; anti join + upsert union
    "q_cdc_apply" ->
      ("WITH changes AS (SELECT doc_id, source, n_chars + 1000000 AS n_chars, " +
        "CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op " +
        "FROM documents WHERE doc_id % 3 = 0 OR doc_id % 7 = 0) " +
        "SELECT b.doc_id, b.source, b.n_chars FROM documents b " +
        "ANTI JOIN changes c ON b.doc_id = c.doc_id " +
        "UNION ALL SELECT doc_id, source, n_chars FROM changes WHERE op = 'upsert'"),

    // replays the widened changeset, the apply, the chr(1)/chr(2) concat
    // digests on both versions, and the full-outer classification
    "q_snapshot_diff" ->
      ("WITH changes AS (SELECT doc_id, source, n_chars + 1000000 AS n_chars, " +
        "CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op " +
        "FROM documents WHERE doc_id % 3 = 0 OR doc_id % 7 = 0), " +
        "inserts AS (SELECT doc_id + 10000000 AS doc_id, source, n_chars, " +
        "'upsert' AS op FROM documents WHERE doc_id % 11 = 0), " +
        "allch AS (SELECT * FROM changes UNION ALL SELECT * FROM inserts), " +
        "next AS (SELECT b.doc_id, b.source, b.n_chars FROM documents b " +
        "ANTI JOIN allch c ON b.doc_id = c.doc_id " +
        "UNION ALL SELECT doc_id, source, n_chars FROM allch WHERE op = 'upsert'), " +
        "bd AS (SELECT doc_id, md5(COALESCE(CAST(source AS VARCHAR), chr(2)) " +
        "|| chr(1) || COALESCE(CAST(n_chars AS VARCHAR), chr(2))) AS old_md5 " +
        "FROM documents), " +
        "nd AS (SELECT doc_id, md5(COALESCE(CAST(source AS VARCHAR), chr(2)) " +
        "|| chr(1) || COALESCE(CAST(n_chars AS VARCHAR), chr(2))) AS new_md5 " +
        "FROM next) " +
        "SELECT COALESCE(bd.doc_id, nd.doc_id) AS doc_id, " +
        "CASE WHEN bd.doc_id IS NULL THEN 'added' " +
        "WHEN nd.doc_id IS NULL THEN 'removed' " +
        "WHEN old_md5 <> new_md5 THEN 'changed' ELSE 'unchanged' END AS change, " +
        "old_md5, new_md5 " +
        "FROM bd FULL OUTER JOIN nd ON bd.doc_id = nd.doc_id " +
        "WHERE bd.doc_id IS NULL OR nd.doc_id IS NULL OR old_md5 <> new_md5"),

    "q_vocab_df" ->
      ("SELECT term, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term " +
        "FROM documents) WHERE length(term) >= 3 " +
        "GROUP BY term ORDER BY n_occurrences DESC, term ASC LIMIT 100"),

    // the sketch runs in its exact regime (capacity >= vocabulary), so
    // plain GROUP BY counts with the same (count DESC, item ASC) cut are
    // the oracle, and every max_err is exactly 0
    "q_heavy_hitters" ->
      ("SELECT t AS item, count(*) AS est_count, CAST(0 AS BIGINT) AS max_err " +
        "FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t " +
        "FROM documents) GROUP BY t ORDER BY est_count DESC, item ASC LIMIT 20"),

    // exact regime again (capacity ≥ the combinatorial 3-gram ceiling)
    "q_heavy_ngrams" ->
      ("SELECT gram AS item, count(*) AS est_count, CAST(0 AS BIGINT) AS max_err " +
        "FROM (SELECT array_to_string(ws[p+1:p+3], ' ') AS gram FROM " +
        "(SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), " +
        "x -> x <> '') AS ws FROM documents) t, " +
        "unnest(generate_series(0, len(ws) - 3)) AS u(p)) " +
        "GROUP BY gram ORDER BY est_count DESC, item ASC LIMIT 25"),

    // same bit-length bucket (length(bin(n))), same NULL policy, all
    // integer — the histogram diffs exactly across engines
    "q_length_histogram" ->
      ("WITH t AS (SELECT source, " +
        "CASE WHEN text IS NULL THEN -1 ELSE CAST(length(bin(" +
        "length(string_split_regex(trim(text), '\\s+')))) AS BIGINT) END AS len_bucket, " +
        "CASE WHEN text IS NULL THEN 0 ELSE " +
        "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) END AS n " +
        "FROM documents) " +
        "SELECT source, len_bucket, count(*) AS n_docs, " +
        "CAST(sum(n) AS BIGINT) AS total_tokens, " +
        "CAST(min(n) AS BIGINT) AS min_tokens, " +
        "CAST(max(n) AS BIGINT) AS max_tokens " +
        "FROM t GROUP BY source, len_bucket"),

    // vocab re-derived exactly as in q_lm_surprisal (top-200 by n DESC,
    // token ASC), then misses counted by the vocab left join
    "q_vocab_coverage" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t " +
        "FROM documents), " +
        "cnt AS (SELECT t, count(*) AS n FROM tok GROUP BY t), " +
        "v AS (SELECT t FROM cnt ORDER BY n DESC, t ASC LIMIT 200), " +
        "sc AS (SELECT k.doc_id, count(*) AS ntok, " +
        "sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS noov " +
        "FROM tok k LEFT JOIN v ON k.t = v.t GROUP BY k.doc_id) " +
        "SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, " +
        "CAST(noov AS BIGINT) AS n_oov, " +
        "(CAST(noov AS BIGINT) * 1000) // CAST(ntok AS BIGINT) AS oov_permille " +
        "FROM sc"),

    "q_corpus_stats" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        "CAST(sum(CASE WHEN text IS NULL THEN 0 ELSE length(text) END) AS BIGINT) AS total_chars, " +
        "CAST(sum(CASE WHEN text IS NULL THEN 0 ELSE " +
        "length(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS total_tokens, " +
        "CAST(sum(CASE WHEN text IS NOT NULL AND length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short, " +
        "CAST(max(length(text)) AS BIGINT) AS max_chars " +
        "FROM documents GROUP BY source"),

    // same [a-z]+ tokenizer ([[vocabStats]]'s), same type/hapax folds,
    // same permille arithmetic (// == div on the non-negative operands);
    // n_docs left-joins so a group with no tokens would still report
    // same split, same planted append, same permille-share deltas and
    // (|delta| desc, token asc) total-order cut
    "q_vocab_drift" ->
      ("WITH oldt AS (SELECT text FROM documents WHERE doc_id % 2 = 0), " +
        "newt AS (SELECT CASE WHEN doc_id % 10 = 5 " +
        "THEN text || ' driftterm driftterm' ELSE text END AS text " +
        "FROM documents WHERE doc_id % 2 = 1), " +
        "oc AS (SELECT t.token, count(*) AS n_old FROM oldt, " +
        "unnest(list_filter(string_split_regex(lower(coalesce(text, '')), " +
        "'[^a-z]+'), x -> x <> '')) AS t(token) GROUP BY 1), " +
        "nc AS (SELECT t.token, count(*) AS n_new FROM newt, " +
        "unnest(list_filter(string_split_regex(lower(coalesce(text, '')), " +
        "'[^a-z]+'), x -> x <> '')) AS t(token) GROUP BY 1), " +
        "tots AS (SELECT greatest((SELECT sum(n_old) FROM oc), 1) AS ot, " +
        "greatest((SELECT sum(n_new) FROM nc), 1) AS nt), " +
        "j AS (SELECT coalesce(oc.token, nc.token) AS token, " +
        "coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new " +
        "FROM oc FULL OUTER JOIN nc ON oc.token = nc.token), " +
        "s AS (SELECT token, CAST(n_old AS BIGINT) AS n_old, " +
        "CAST(n_new AS BIGINT) AS n_new, " +
        "CAST((n_old * 1000) // tots.ot AS BIGINT) AS share_old_permille, " +
        "CAST((n_new * 1000) // tots.nt AS BIGINT) AS share_new_permille " +
        "FROM j, tots WHERE greatest(n_old, n_new) >= 5) " +
        "SELECT token, n_old, n_new, share_old_permille, share_new_permille, " +
        "share_new_permille - share_old_permille AS delta_permille FROM s " +
        "ORDER BY abs(share_new_permille - share_old_permille) DESC, token ASC " +
        "LIMIT 20"),

    // same tokenizer, same two-stage permille lift, same (lift desc,
    // token asc) cut
    "q_source_terms" ->
      ("WITH gt AS (SELECT source AS grp, t.token AS token, count(*) AS n_gt " +
        "FROM documents, unnest(list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '')) AS t(token) " +
        "GROUP BY 1, 2), " +
        "g AS (SELECT grp, sum(n_gt) AS n_g FROM gt GROUP BY 1), " +
        "tt AS (SELECT token, sum(n_gt) AS n_t FROM gt GROUP BY 1), " +
        "tot AS (SELECT sum(n_gt) AS n_total FROM gt), " +
        "s AS (SELECT gt.grp, gt.token, gt.n_gt, " +
        "(gt.n_gt * 1000) // greatest(g.n_g, 1) AS share_g, " +
        "(tt.n_t * 1000) // greatest(tot.n_total, 1) AS share_all " +
        "FROM gt JOIN g USING (grp) JOIN tt USING (token) CROSS JOIN tot " +
        "WHERE gt.n_gt >= 5), " +
        "r AS (SELECT grp, token, n_gt, " +
        "(share_g * 1000) // greatest(share_all, 1) AS lift_permille FROM s), " +
        "k AS (SELECT grp, token, n_gt, lift_permille, row_number() OVER (" +
        "PARTITION BY grp ORDER BY lift_permille DESC, token ASC) AS rn FROM r) " +
        "SELECT grp AS source, CAST(rn AS BIGINT) AS rank, token, " +
        "CAST(n_gt AS BIGINT) AS n_in_group, " +
        "CAST(lift_permille AS BIGINT) AS lift_permille FROM k WHERE rn <= 5"),

    "q_lexical_stats" ->
      ("WITH tok AS (SELECT source AS grp, t.token AS token, count(*) AS cnt " +
        "FROM documents, unnest(list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '')) AS t(token) " +
        "GROUP BY 1, 2), " +
        "lex AS (SELECT grp, sum(cnt) AS n_tokens, count(*) AS n_types, " +
        "sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_hapax FROM tok GROUP BY 1), " +
        "docs AS (SELECT source AS grp, count(DISTINCT doc_id) AS n_docs " +
        "FROM documents GROUP BY 1) " +
        "SELECT docs.grp AS source, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(n_types, 0) AS BIGINT) AS n_types, " +
        "CAST(coalesce(n_hapax, 0) AS BIGINT) AS n_hapax, " +
        "CAST((coalesce(n_types, 0) * 1000) // greatest(coalesce(n_tokens, 0), 1) AS BIGINT) AS ttr_permille, " +
        "CAST((coalesce(n_hapax, 0) * 1000) // greatest(coalesce(n_types, 0), 1) AS BIGINT) AS hapax_permille " +
        "FROM docs LEFT JOIN lex ON docs.grp = lex.grp"),

    // same complement-deletion class counts (DuckDB needs the 'g' flag —
    // Spark's regexp_replace is global by default), same disjointness
    // construction (other_ascii and non_ascii derived from totals)
    "q_script_mix" ->
      (s"WITH rt AS (SELECT doc_id, text || CASE WHEN doc_id % 4 = 0 " +
        s"THEN ' $CjkTail' ELSE '' END AS text FROM documents), " +
        "t AS (SELECT doc_id, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(text) END AS c, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END AS lat, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) END AS na " +
        "FROM rt) " +
        "SELECT doc_id, CAST(c AS BIGINT) AS total_chars, " +
        "CAST(lat AS BIGINT) AS n_latin, CAST(na AS BIGINT) AS n_non_ascii, " +
        "(CAST(lat AS BIGINT) * 1000) // greatest(CAST(c AS BIGINT), 1) AS latin_permille, " +
        "(CAST(na AS BIGINT) * 1000) // greatest(CAST(c AS BIGINT), 1) AS non_ascii_permille, " +
        "CAST(CASE WHEN lat * 1000 >= c * 50 AND na * 1000 >= c * 50 AND c > 0 " +
        "THEN 1 ELSE 0 END AS BIGINT) AS is_mixed FROM t"),

    "q_script_ratio" ->
      ("WITH t AS (SELECT source, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(text) END AS c, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END AS lat, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^0-9]', '', 'g')) END AS dig, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^\\s]', '', 'g')) END AS sp, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) END AS na " +
        "FROM documents) " +
        "SELECT source, CAST(sum(c) AS BIGINT) AS total_chars, " +
        "CAST(sum(lat) AS BIGINT) AS n_latin, " +
        "CAST(sum(dig) AS BIGINT) AS n_digit, " +
        "CAST(sum(sp) AS BIGINT) AS n_space, " +
        "CAST(sum(c) - sum(na) - sum(lat) - sum(dig) - sum(sp) AS BIGINT) AS n_other_ascii, " +
        "CAST(sum(na) AS BIGINT) AS n_non_ascii, " +
        "(CAST(sum(lat) AS BIGINT) * 1000) // greatest(CAST(sum(c) AS BIGINT), 1) AS latin_permille, " +
        "(CAST(sum(na) AS BIGINT) * 1000) // greatest(CAST(sum(c) AS BIGINT), 1) AS non_ascii_permille " +
        "FROM t GROUP BY source"),

    // same tokenizer, same double-space sentinel rendering, same greedy
    // non-overlapping length-arithmetic occurrence count per needle
    "q_blocklist" ->
      ("WITH p AS (SELECT doc_id, " +
        "list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS toks " +
        "FROM documents), " +
        "s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "' ' || array_to_string(toks, '  ') || ' ' AS pad FROM p), " +
        "h AS (SELECT doc_id, n_tokens, " +
        "list_transform([' slow ', ' big  table ', ' hash  value ', ' forbidden '], " +
        "nd -> (length(pad) - length(replace(pad, nd, ''))) // length(nd)) AS hits FROM s) " +
        "SELECT doc_id, n_tokens, " +
        "CAST(list_sum(hits) AS BIGINT) AS n_blocked, " +
        "CAST(len(list_filter(hits, x -> x > 0)) AS BIGINT) AS n_blocked_types, " +
        "CAST((list_sum(hits) * 1000) // greatest(n_tokens, 1) AS BIGINT) AS blocked_permille, " +
        "CAST(CASE WHEN list_sum(hits) = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_clean " +
        "FROM h"),

    // full scorer replay: unigram + adjacent-bigram features, bucket =
    // first 32 md5 bits (hex-string arithmetic) mod 4096, weight re-derived
    // from the bucket id by the same formula, bias + integer sum
    "q_quality_classifier" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "uni AS (SELECT doc_id, unnest(ws) AS f FROM t), " +
        "bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1), " +
        "i -> ws[i] || ' ' || ws[i + 1])) AS f FROM t), " +
        "feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi), " +
        "sc AS (SELECT doc_id, 5 + sum(" +
        "(CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 4096) % 21 - 10" +
        ") AS score FROM feats GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(sc.score AS BIGINT) AS score, " +
        "CAST(CASE WHEN sc.score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS label " +
        "FROM documents d LEFT JOIN sc USING (doc_id)"),

    // full DSIR replay: features → md5 buckets → target/raw counts →
    // bit-cost weights length(bin(n+1))-1 → per-doc integer sums
    "q_importance" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws " +
        "FROM documents WHERE text IS NOT NULL), " +
        "uni AS (SELECT doc_id, unnest(ws) AS f FROM t), " +
        "bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1), " +
        "i -> ws[i] || ' ' || ws[i + 1])) AS f FROM t), " +
        "feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi), " +
        "buck AS (SELECT doc_id, CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS b " +
        "FROM feats), " +
        "tc AS (SELECT b, count(*) AS n FROM buck WHERE doc_id % 10 = 0 GROUP BY b), " +
        "rc AS (SELECT b, count(*) AS n FROM buck GROUP BY b), " +
        "w AS (SELECT rc.b, CAST(length(bin(COALESCE(tc.n, 0) + 1)) - 1 AS BIGINT) " +
        "- CAST(length(bin(rc.n + 1)) - 1 AS BIGINT) AS w FROM rc LEFT JOIN tc USING (b)), " +
        "sc AS (SELECT bu.doc_id, sum(w.w) AS s FROM buck bu JOIN w USING (b) GROUP BY bu.doc_id) " +
        "SELECT d.doc_id, CAST(sc.s AS BIGINT) AS imp_score " +
        "FROM documents d LEFT JOIN sc USING (doc_id)"),

    // re-derives the whole LM chain (the q_lm_surprisal oracle) and then
    // replays the SAME standard-SQL NTILE over the same total
    // (mean_centibits, doc_id) order per language
    "q_ccnet_buckets" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t " +
        "FROM documents), " +
        "cnt AS (SELECT t, count(*) AS n FROM tok GROUP BY t), " +
        "v AS (SELECT t, row_number() OVER (ORDER BY n DESC, t ASC) AS r " +
        "FROM cnt ORDER BY n DESC, t ASC LIMIT 200), " +
        "vc AS (SELECT t, CAST(length(bin(r)) - 1 AS BIGINT) AS cost FROM v), " +
        "par AS (SELECT CAST(length(bin(count(*) + 1)) - 1 AS BIGINT) AS oov FROM vc), " +
        "sc AS (SELECT k.doc_id, count(*) AS ntok, " +
        "sum(COALESCE(vc.cost, par.oov)) AS sbits " +
        "FROM tok k LEFT JOIN vc ON k.t = vc.t CROSS JOIN par GROUP BY k.doc_id), " +
        "scr AS (SELECT d.doc_id, d.lang, " +
        "(CAST(sc.sbits AS BIGINT) * 100) // CAST(sc.ntok AS BIGINT) AS mean_centibits " +
        "FROM documents d JOIN sc USING (doc_id)) " +
        "SELECT doc_id, lang, mean_centibits, " +
        "CAST(ntile(3) OVER (PARTITION BY lang ORDER BY mean_centibits, doc_id) AS BIGINT) AS bucket, " +
        "CASE ntile(3) OVER (PARTITION BY lang ORDER BY mean_centibits, doc_id) " +
        "WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS bucket_label " +
        "FROM scr"),

    // the oracle re-derives the WHOLE LM: token counts → top-200 vocab by
    // (n DESC, token ASC) → integer bit costs length(bin(rank))-1 → per-doc
    // left-join sum with the same OOV cost floor(log2(V+1))
    "q_lm_surprisal" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t " +
        "FROM documents), " +
        "cnt AS (SELECT t, count(*) AS n FROM tok GROUP BY t), " +
        "v AS (SELECT t, row_number() OVER (ORDER BY n DESC, t ASC) AS r " +
        "FROM cnt ORDER BY n DESC, t ASC LIMIT 200), " +
        "vc AS (SELECT t, CAST(length(bin(r)) - 1 AS BIGINT) AS cost FROM v), " +
        "par AS (SELECT CAST(length(bin(count(*) + 1)) - 1 AS BIGINT) AS oov FROM vc), " +
        "sc AS (SELECT k.doc_id, count(*) AS ntok, " +
        "sum(COALESCE(vc.cost, par.oov)) AS sbits " +
        "FROM tok k LEFT JOIN vc ON k.t = vc.t CROSS JOIN par GROUP BY k.doc_id) " +
        "SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, " +
        "CAST(sbits AS BIGINT) AS surprisal_bits, " +
        "(CAST(sbits AS BIGINT) * 100) // CAST(ntok AS BIGINT) AS mean_centibits " +
        "FROM sc"),

    // both vocab tables re-derived (top-200 by (n DESC, key ASC), bin()
    // bit costs), then the backoff CASE replayed per (lag, token) pair
    "q_lm_bigram" ->
      ("WITH tok AS (SELECT doc_id, unnest(ws) AS t, generate_subscripts(ws, 1) AS i " +
        "FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents)), " +
        "cnt AS (SELECT t, count(*) AS n FROM tok GROUP BY t), " +
        "v AS (SELECT t, row_number() OVER (ORDER BY n DESC, t ASC) AS r " +
        "FROM cnt ORDER BY n DESC, t ASC LIMIT 200), " +
        "vc AS (SELECT t, CAST(length(bin(r)) - 1 AS BIGINT) AS cost FROM v), " +
        "par AS (SELECT CAST(length(bin(count(*) + 1)) - 1 AS BIGINT) AS oov FROM vc), " +
        "pair AS (SELECT doc_id, i, lag(t) OVER (PARTITION BY doc_id ORDER BY i) AS p, t FROM tok), " +
        "bcnt AS (SELECT p || ' ' || t AS pr, count(*) AS n FROM pair WHERE p IS NOT NULL GROUP BY 1), " +
        "bv AS (SELECT pr, row_number() OVER (ORDER BY n DESC, pr ASC) AS r " +
        "FROM bcnt ORDER BY n DESC, pr ASC LIMIT 200), " +
        "bc AS (SELECT pr, CAST(length(bin(r)) - 1 AS BIGINT) AS cost FROM bv), " +
        "sc AS (SELECT q.doc_id, count(*) AS ntok, sum(" +
        "CASE WHEN q.p IS NULL THEN COALESCE(vc.cost, par.oov) " +
        "WHEN bc.cost IS NOT NULL THEN bc.cost " +
        "ELSE 3 + COALESCE(vc.cost, par.oov) END) AS sbits " +
        "FROM pair q LEFT JOIN vc ON q.t = vc.t " +
        "LEFT JOIN bc ON q.p || ' ' || q.t = bc.pr " +
        "CROSS JOIN par GROUP BY q.doc_id) " +
        "SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, " +
        "CAST(sbits AS BIGINT) AS surprisal_bits FROM sc"),

    "q_contamination" ->
      ("SELECT probe, count(*) AS n_docs, min(doc_id) AS first_doc " +
        "FROM documents, (VALUES " +
        ContaminationProbes.map(p => s"('$p')").mkString(", ") +
        ") AS p(probe) WHERE contains(text, probe) GROUP BY probe"),

    // token 3-grams re-derived in SQL; range(1, len-1) is empty for short
    // docs, matching the Spark guard
    "q_contamination_ngram" ->
      ("WITH toks AS (SELECT doc_id, " +
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w " +
        "FROM documents), " +
        "grams AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1), " +
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs FROM toks), " +
        "ev AS (SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE doc_id % 97 = 0), " +
        "tr AS (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 97 <> 0) " +
        "SELECT tr.doc_id, count(*) AS n_shared_ngrams FROM tr JOIN ev USING (gram) " +
        "GROUP BY tr.doc_id"),

    // identical IEEE tree to tfidfTopTerms: (tf_d * n_d) / df_d, ranked
    // (score DESC, term ASC) — deterministic because x/÷ are exact-specified
    "q_tfidf" ->
      ("WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE length(term) >= 3 GROUP BY 1, 2), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "scored AS (SELECT doc_id, term, tf, df, " +
        "(CAST(tf AS DOUBLE) * CAST((SELECT count(*) FROM documents) AS DOUBLE)) / CAST(df AS DOUBLE) AS score " +
        "FROM tf JOIN dfreq USING (term)) " +
        "SELECT doc_id, rank, term, tf, df FROM " +
        "(SELECT doc_id, term, tf, df, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM scored) " +
        "WHERE rank <= 5"),

    // full BM25 replay: ratio idf (N-df+0.5)/(df+0.5), the k1/b constant
    // folds performed as SQL constant expressions (matching Scala's plan-
    // build folds bit-for-bit), and the per-doc sum as a sorted-term
    // ordered-list fold — every op an IEEE scalar in the identical order
    "q_bm25" ->
      ("WITH " + Bm25OracleCtes +
        " SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms, bm25 FROM g " +
        "ORDER BY bm25 DESC, doc_id ASC LIMIT 20"),

    // the bm25 replay feeding the eval counters: rank over the identical
    // same tokenizer-derived label, same per-distinct-score tallies,
    // same strictly-below cumsum and 2U tie arithmetic
    "q_binary_eval" ->
      ("WITH t AS (SELECT CASE WHEN list_contains(list_filter(" +
        "string_split_regex(lower(coalesce(text, '')), '[^a-z]+'), " +
        "x -> x <> ''), 'slow') THEN 1 ELSE 0 END AS y, " +
        "CAST(n_chars AS BIGINT) AS s FROM documents WHERE n_chars IS NOT NULL), " +
        "g AS (SELECT s, sum(y) AS cp, count(*) - sum(y) AS cn FROM t GROUP BY 1), " +
        "u AS (SELECT s, cp, cn, coalesce(sum(cn) OVER (ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb FROM g), " +
        "a AS (SELECT sum(cp) AS n_pos, sum(cn) AS n_neg, " +
        "sum(cp * nb * 2 + cp * cn) AS u2, " +
        "sum(CASE WHEN s >= 300 THEN cp ELSE 0 END) AS tp, " +
        "sum(CASE WHEN s >= 300 THEN cn ELSE 0 END) AS fp FROM u) " +
        "SELECT CAST(n_pos + n_neg AS BIGINT) AS n, " +
        "CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg, " +
        "CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, " +
        "CAST(n_pos - tp AS BIGINT) AS fn, CAST(n_neg - fp AS BIGINT) AS tn, " +
        "CAST((tp * 1000) // greatest(tp + fp, 1) AS BIGINT) AS precision_permille, " +
        "CAST((tp * 1000) // greatest(n_pos, 1) AS BIGINT) AS recall_permille, " +
        "CAST((tp * 2000) // greatest(2 * tp + fp + (n_pos - tp), 1) AS BIGINT) AS f1_permille, " +
        "CAST((u2 * 1000) // greatest(2 * n_pos * n_neg, 1) AS BIGINT) AS auc_permille " +
        "FROM a"),

    // md5 fold assignment + the identical per-fold tallies, partitioned
    // strictly-below cumsum, and 2U/permille arithmetic
    "q_binary_eval_folds" ->
      ("WITH t AS (SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
        "AS BIGINT) % 5 AS fold, CASE WHEN list_contains(list_filter(" +
        "string_split_regex(lower(coalesce(text, '')), '[^a-z]+'), " +
        "x -> x <> ''), 'slow') THEN 1 ELSE 0 END AS y, " +
        "CAST(n_chars AS BIGINT) AS s FROM documents WHERE n_chars IS NOT NULL), " +
        "g AS (SELECT fold, s, sum(y) AS cp, count(*) - sum(y) AS cn FROM t GROUP BY 1, 2), " +
        "u AS (SELECT fold, s, cp, cn, coalesce(sum(cn) OVER (PARTITION BY fold ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb FROM g), " +
        "a AS (SELECT fold, sum(cp) AS n_pos, sum(cn) AS n_neg, " +
        "sum(cp * nb * 2 + cp * cn) AS u2, " +
        "sum(CASE WHEN s >= 300 THEN cp ELSE 0 END) AS tp, " +
        "sum(CASE WHEN s >= 300 THEN cn ELSE 0 END) AS fp FROM u GROUP BY 1) " +
        "SELECT fold, CAST(n_pos + n_neg AS BIGINT) AS n, " +
        "CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg, " +
        "CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, " +
        "CAST(n_pos - tp AS BIGINT) AS fn, CAST(n_neg - fp AS BIGINT) AS tn, " +
        "CAST((tp * 1000) // greatest(tp + fp, 1) AS BIGINT) AS precision_permille, " +
        "CAST((tp * 1000) // greatest(n_pos, 1) AS BIGINT) AS recall_permille, " +
        "CAST((tp * 2000) // greatest(2 * tp + fp + (n_pos - tp), 1) AS BIGINT) AS f1_permille, " +
        "CAST((u2 * 1000) // greatest(2 * n_pos * n_neg, 1) AS BIGINT) AS auc_permille " +
        "FROM a"),

    // same (source, lang) counts, majority share, and integer Gini
    "q_class_balance" ->
      ("WITH c AS (SELECT source, lang, count(*) AS c FROM documents " +
        "WHERE lang IS NOT NULL GROUP BY 1, 2) " +
        "SELECT source, CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(count(*) AS BIGINT) AS n_classes, " +
        "CAST((max(c) * 1000) // sum(c) AS BIGINT) AS majority_permille, " +
        "CAST((1000 * (sum(c) * sum(c) - sum(c * c))) // (sum(c) * sum(c)) AS BIGINT) " +
        "AS gini_permille FROM c GROUP BY 1"),

    // identical doubled tie-averaged ranks (rank() min-rank + tie count),
    // integer moments, exact-isqrt denominators
    "q_rank_corr" ->
      // the QUALIFY replays the gate's hash-order sampling front-end —
      // a NO-OP at every gate scale (all groups under the 6,000 cap),
      // exactly as in the Spark operator
      ("WITH b AS (SELECT source, CAST(n_chars AS BIGINT) AS x, " +
        "CAST(len(list_filter(string_split_regex(trim(coalesce(text, '')), " +
        "'\\s+'), t -> t <> '')) AS BIGINT) AS y " +
        "FROM documents WHERE n_chars IS NOT NULL " +
        "QUALIFY row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 6000), " +
        "r AS (SELECT source, " +
        "2 * rank() OVER (PARTITION BY source ORDER BY x) + " +
        "count(*) OVER (PARTITION BY source, x) - 1 AS a, " +
        "2 * rank() OVER (PARTITION BY source ORDER BY y) + " +
        "count(*) OVER (PARTITION BY source, y) - 1 AS b FROM b), " +
        "m AS (SELECT source, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb, " +
        "CAST(sum(a * b) AS BIGINT) AS sab, CAST(sum(a * a) AS BIGINT) AS saa, " +
        "CAST(sum(b * b) AS BIGINT) AS sbb FROM r GROUP BY 1), " +
        "d AS (SELECT source, n, n * sab - sa * sb AS num, " +
        "n * saa - sa * sa AS dx, n * sbb - sb * sb AS dy FROM m), " +
        "q AS (SELECT *, CAST(FLOOR(SQRT(CAST(dx AS DOUBLE))) AS BIGINT) AS sx0, " +
        "CAST(FLOOR(SQRT(CAST(dy AS DOUBLE))) AS BIGINT) AS sy0 FROM d), " +
        "f AS (SELECT source, n, num, greatest(" +
        "(CASE WHEN sx0 * sx0 > dx THEN sx0 - 1 WHEN (sx0 + 1) * (sx0 + 1) <= dx " +
        "THEN sx0 + 1 ELSE sx0 END) * " +
        "(CASE WHEN sy0 * sy0 > dy THEN sy0 - 1 WHEN (sy0 + 1) * (sy0 + 1) <= dy " +
        "THEN sy0 + 1 ELSE sy0 END), 1) AS den FROM q) " +
        "SELECT source, n, ((num * 1000) // den) * 1000 + " +
        "(((num * 1000) % den) * 1000) // den AS spearman_micro FROM f"),

    // same label/score, same integer equal-width binning over the
    // replayed [min, max]
    "q_calibration" ->
      ("WITH t AS (SELECT CASE WHEN list_contains(list_filter(" +
        "string_split_regex(lower(coalesce(text, '')), '[^a-z]+'), " +
        "x -> x <> ''), 'slow') THEN 1 ELSE 0 END AS y, " +
        "CAST(n_chars AS BIGINT) AS s FROM documents WHERE n_chars IS NOT NULL), " +
        "mm AS (SELECT min(s) AS lo, max(s) AS hi FROM t) " +
        "SELECT CAST(((s - mm.lo) * 10) // (mm.hi - mm.lo + 1) AS BIGINT) AS bin, " +
        "count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos, " +
        "CAST((sum(y) * 1000) // count(*) AS BIGINT) AS pos_rate_permille, " +
        "CAST(sum(s) // count(*) AS BIGINT) AS mean_score " +
        "FROM t, mm GROUP BY 1"),

    // same daily collapse, re-origin, integer moments, and guarded OLS
    "q_trend" ->
      ("WITH dly AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y " +
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2), " +
        "x0 AS (SELECT event_type, min(day) AS d0 FROM dly GROUP BY 1), " +
        "xs AS (SELECT dly.event_type, dly.day - x0.d0 AS x, dly.y " +
        "FROM dly JOIN x0 USING (event_type)), " +
        "mo AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
        "CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx FROM xs GROUP BY 1) " +
        "SELECT event_type, n, " +
        "(1000000 * (n * sxy - sx * sy)) // greatest(n * sxx - sx * sx, 1) AS slope_micro, " +
        "(sy - ((1000000 * (n * sxy - sx * sy)) // greatest(n * sxx - sx * sx, 1) * sx) // 1000000) // n " +
        "AS intercept FROM mo"),

    // cosines re-derived as DOUBLE[] similarity, per-anchor argmax under
    // the same same/other-label masks, ties to the smallest id; ids only
    // (rank-1 score gaps dwarf float noise, the q_embed_topk precedent)
    "q_hard_negatives" ->
      ("WITH a AS (SELECT vec_id AS aid, CAST(embedding AS DOUBLE[]) AS av, " +
        "label AS albl FROM embeddings WHERE vec_id < 5), " +
        "s AS (SELECT a.aid, a.albl, e.vec_id AS cid, e.label AS clbl, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) AS s " +
        "FROM embeddings e CROSS JOIN a WHERE e.vec_id <> a.aid), " +
        "p AS (SELECT aid, cid FROM (SELECT aid, cid, row_number() OVER " +
        "(PARTITION BY aid ORDER BY s DESC, cid ASC) AS rn FROM s WHERE clbl = albl) WHERE rn = 1), " +
        "n AS (SELECT aid, cid FROM (SELECT aid, cid, row_number() OVER " +
        "(PARTITION BY aid ORDER BY s DESC, cid ASC) AS rn FROM s WHERE clbl <> albl) WHERE rn = 1) " +
        "SELECT p.aid AS anchor_id, p.cid AS pos_id, n.cid AS neg_id " +
        "FROM p JOIN n ON p.aid = n.aid"),

    // identical per-(group, value) collapse, cumulative window, and the
    // lower-median pick (first value with 2·cum ≥ total)
    "q_weighted_median" -> WeightedMedianOracleSql,

    // the refinement twin must be output-identical — SAME oracle
    "q_weighted_median_refine" -> WeightedMedianOracleSql,

    // open/close re-derived via first/last row_number in (ts, event_id)
    // order; min/max/sum over the same integer cents
    "q_ohlc" ->
      ("WITH t AS (SELECT event_type, " +
        "(epoch_us(ts) // 86400000000) * 86400 AS bucket_start, " +
        "epoch_us(ts) AS eus, event_id, " +
        "CAST(round(value * 100) AS BIGINT) AS cents " +
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type, bucket_start " +
        "ORDER BY eus ASC, event_id ASC) AS rn_a, " +
        "row_number() OVER (PARTITION BY event_type, bucket_start " +
        "ORDER BY eus DESC, event_id DESC) AS rn_d FROM t) " +
        "SELECT event_type, bucket_start, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents, " +
        "CAST(max(cents) AS BIGINT) AS high_cents, " +
        "CAST(min(cents) AS BIGINT) AS low_cents, " +
        "CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents " +
        "FROM r GROUP BY 1, 2"),

    // the same lead-bounded step integral: Σ cents·µs div Σ µs
    "q_twap" -> TwapOracleSql,

    // the salted twin must be output-identical — SAME oracle
    "q_twap_salted" -> TwapOracleSql,

    // bucket sums, per-key integer mean target, then the Page recursion
    // S_t = max(0, S_{t-1} + x_t - target - slack) as a recursive CTE
    "q_cusum" ->
      ("WITH RECURSIVE b AS (SELECT event_type, " +
        "(epoch_us(ts) // 86400000000) * 86400 AS bucket_start, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x " +
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2), " +
        "m AS (SELECT event_type, CAST(sum(x) // count(*) AS BIGINT) AS target, " +
        "CAST((sum(x) // count(*)) * 200 // 1000 AS BIGINT) AS h FROM b GROUP BY 1), " +
        "o AS (SELECT b.*, m.target, m.h, row_number() OVER " +
        "(PARTITION BY b.event_type ORDER BY b.bucket_start ASC) AS rn " +
        "FROM b JOIN m USING (event_type)), " +
        "c AS (SELECT event_type, bucket_start, x, target, h, rn, " +
        "greatest(x - target, CAST(0 AS BIGINT)) AS s FROM o WHERE rn = 1 " +
        "UNION ALL SELECT o.event_type, o.bucket_start, o.x, o.target, o.h, o.rn, " +
        "greatest(c.s + o.x - o.target, CAST(0 AS BIGINT)) AS s " +
        "FROM o JOIN c ON o.event_type = c.event_type AND o.rn = c.rn + 1) " +
        "SELECT event_type, bucket_start, x, target, s AS cusum, " +
        "CAST(CASE WHEN s > h THEN 1 ELSE 0 END AS BIGINT) AS alarm FROM c"),

    // pairs re-derived from event_id digits, then the identical union
    // tally, scaled-integer Wilson radicand, and the same
    // floor(sqrt)+fixup exact isqrt
    "q_pref_winrate" ->
      ("WITH e AS (SELECT event_id % 13 AS a, 1 + (event_id // 13) % 12 AS b, " +
        "event_id FROM events WHERE event_id % 13 <> 1 + (event_id // 13) % 12), " +
        "p AS (SELECT CASE WHEN event_id % (a + b + 2) <= a THEN a ELSE b END AS winner, " +
        "CASE WHEN event_id % (a + b + 2) <= a THEN b ELSE a END AS loser FROM e), " +
        "t AS (SELECT item, CAST(sum(win) AS BIGINT) AS wins, " +
        "CAST(sum(loss) AS BIGINT) AS losses FROM " +
        "(SELECT winner AS item, 1 AS win, 0 AS loss FROM p " +
        "UNION ALL SELECT loser, 0, 1 FROM p) GROUP BY 1), " +
        "g AS (SELECT item, wins, losses, wins + losses AS games, " +
        "((wins * losses) // (wins + losses)) * 1000000 + " +
        "(((wins * losses) % (wins + losses)) * 1000000) // (wins + losses) " +
        "+ 1000000 AS bigr FROM t), " +
        "q0 AS (SELECT *, CAST(FLOOR(SQRT(CAST(bigr AS DOUBLE))) AS BIGINT) AS s0 FROM g), " +
        "f AS (SELECT *, CASE WHEN s0 * s0 > bigr THEN s0 - 1 " +
        "WHEN (s0 + 1) * (s0 + 1) <= bigr THEN s0 + 1 ELSE s0 END AS s FROM q0) " +
        "SELECT item, wins, losses, games, " +
        "(wins * 1000) // games AS winrate_permille, " +
        "GREATEST((1000 * (wins + 2) - 2 * s) // (games + 4), CAST(0 AS BIGINT)) " +
        "AS wilson_lcb_permille FROM f"),

    // the same two derived raters, label-pair counts, marginal product
    // chance term, and the integer kappa form
    "q_kappa" ->
      ("WITH l AS (SELECT least(n_chars // 150, 4) AS la, " +
        "least(len(list_filter(string_split_regex(trim(coalesce(text, '')), " +
        "'\\s+'), x -> x <> '')) // 25, 4) AS lb " +
        "FROM documents WHERE n_chars IS NOT NULL), " +
        "pc AS (SELECT la, lb, count(*) AS c FROM l GROUP BY 1, 2), " +
        "ma AS (SELECT la AS k, CAST(sum(c) AS BIGINT) AS ak FROM pc GROUP BY 1), " +
        "mb AS (SELECT lb AS k, CAST(sum(c) AS BIGINT) AS bk FROM pc GROUP BY 1), " +
        "ch AS (SELECT CAST(coalesce(sum(ak * bk), 0) AS BIGINT) AS sum_ab " +
        "FROM ma JOIN mb USING (k)), " +
        "tt AS (SELECT CAST(sum(c) AS BIGINT) AS n_items, " +
        "CAST(coalesce(sum(CASE WHEN la = lb THEN c END), 0) AS BIGINT) AS n_agree FROM pc) " +
        "SELECT n_items, n_agree, (n_agree * 1000) // n_items AS po_permille, " +
        "(sum_ab * 1000) // (n_items * n_items) AS pe_permille, " +
        "(1000 * (n_items * n_agree - sum_ab)) // " +
        "greatest(n_items * n_items - sum_ab, 1) AS kappa_permille FROM tt, ch"),

    // per-source counts, floor shares, and the largest-remainder rank
    // (remainder DESC, source ASC) topping up to the exact budget
    "q_apportion" ->
      ("WITH w AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS wt FROM w), " +
        "b AS (SELECT source, n_docs, (1000003 * n_docs) // wt AS base_alloc, " +
        "(1000003 * n_docs) % wt AS rem FROM w, t), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk, " +
        "sum(base_alloc) OVER () AS sb FROM b) " +
        "SELECT source, n_docs, base_alloc, " +
        "CAST(CASE WHEN rk <= 1000003 - sb THEN 1 ELSE 0 END AS BIGINT) AS extra, " +
        "base_alloc + CASE WHEN rk <= 1000003 - sb THEN 1 ELSE 0 END AS alloc FROM r"),

    // identical BM25 fold for the candidate cut (bit-exact, so the
    // top-30 boundary agrees), then the cosine re-rank ids-only
    "q_hybrid_rerank" ->
      ("WITH " + Bm25OracleCtes + ", " +
        "cand AS (SELECT doc_id FROM g ORDER BY bm25 DESC, doc_id ASC LIMIT 30), " +
        "qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0) " +
        "SELECT e.vec_id AS doc_id FROM embeddings e " +
        "JOIN cand c ON e.vec_id = c.doc_id CROSS JOIN qv " +
        "ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v) DESC, " +
        "e.vec_id ASC LIMIT 10"),

    // edges re-derived as the values at ranks ceil(i·n/10) via
    // row_number (value-deterministic under ties), then the same
    // strictly-greater edge count per score
    "q_calibration_quantile" ->
      ("WITH t AS (SELECT CASE WHEN list_contains(list_filter(" +
        "string_split_regex(lower(coalesce(text, '')), '[^a-z]+'), " +
        "x -> x <> ''), 'slow') THEN 1 ELSE 0 END AS y, " +
        "CAST(n_chars AS BIGINT) AS s FROM documents WHERE n_chars IS NOT NULL), " +
        "nn AS (SELECT count(*) AS n FROM t), " +
        "rk AS (SELECT (i * nn.n + 9) // 10 AS k FROM range(1, 10) r(i), nn " +
        "WHERE (i * nn.n + 9) // 10 BETWEEN 1 AND nn.n), " +
        "o AS (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM t), " +
        "e AS (SELECT o.s AS edge FROM o JOIN rk ON o.rn = rk.k), " +
        "b AS (SELECT y, s, (SELECT count(*) FROM e WHERE t2.s > e.edge) AS bin " +
        "FROM t t2(y, s)) " +
        "SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS n_pos, " +
        "CAST((sum(y) * 1000) // count(*) AS BIGINT) AS pos_rate_permille, " +
        "CAST(sum(s) // count(*) AS BIGINT) AS mean_score " +
        "FROM b GROUP BY 1"),

    // (bm25 DESC, doc_id) order, truth = docs with >= 2 distinct matched
    // terms, then hits/recall/first-rank re-derived with pure integers
    "q_retrieval_eval" ->
      ("WITH " + Bm25OracleCtes + ", " +
        "ranked AS (SELECT doc_id, rank FROM (SELECT doc_id, row_number() OVER " +
        "(ORDER BY bm25 DESC, doc_id ASC) AS rank FROM g) WHERE rank <= 20), " +
        "truth AS (SELECT doc_id FROM documents WHERE len(list_distinct(" +
        "list_filter(string_split_regex(trim(text), '\\s+'), " +
        "t -> t IN ('merge', 'window', 'table')))) >= 2), " +
        "m AS (SELECT count(*) AS n_retrieved, " +
        "sum(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits, " +
        "coalesce(min(CASE WHEN t.doc_id IS NOT NULL THEN r.rank END), 0) AS first_rel_rank " +
        "FROM ranked r LEFT JOIN truth t USING (doc_id)), " +
        "n AS (SELECT count(*) AS n_relevant FROM truth) " +
        "SELECT CAST(m.n_retrieved AS BIGINT) AS n_retrieved, " +
        "CAST(n.n_relevant AS BIGINT) AS n_relevant, " +
        "CAST(m.n_hits AS BIGINT) AS n_hits, " +
        "(CAST(m.n_hits AS BIGINT) * 1000) // CAST(n.n_relevant AS BIGINT) AS recall_permille, " +
        "CAST(m.first_rel_rank AS BIGINT) AS first_rel_rank FROM m, n"),

    "q_dedup_exact" ->
      ("SELECT md5(text) AS dup_hash, count(*) AS n_dups, min(doc_id) AS keep_id " +
        "FROM documents GROUP BY text"),

    // same collision fixture, then the matrix from first principles:
    // DISTINCT (digest, source) pairs self-joined on digest with an
    // ordered source pair
    "q_source_overlap" ->
      ("WITH fx AS (SELECT source, CASE WHEN doc_id % 5 = 0 " +
        "THEN 'shared dup ' || CAST(doc_id % 40 AS VARCHAR) ELSE text END AS text " +
        "FROM documents), " +
        "s AS (SELECT DISTINCT md5(text) AS h, source FROM fx WHERE text IS NOT NULL) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_texts " +
        "FROM s a JOIN s b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2"),

    // stride multiples below the text length: DuckDB end-exclusive range ==
    // Spark sequence(0, len-1, stride) for len >= 1
    "q_chunk" ->
      ("SELECT doc_id, CAST(off AS BIGINT) AS chunk_off, " +
        "substr(text, CAST(off AS INT) + 1, 256) AS chunk, " +
        "CAST(length(substr(text, CAST(off AS INT) + 1, 256)) AS BIGINT) AS chunk_len " +
        "FROM (SELECT doc_id, text, unnest(range(0, CAST(length(text) AS BIGINT), 192)) AS off " +
        "FROM documents)"),

    // exclusive running token sum div budget — integer arithmetic end-to-end
    "q_pack" ->
      ("WITH t AS (SELECT doc_id, source, " +
        "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, " +
        "COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) " +
        "SELECT doc_id, source, n_tokens, CAST(cum // 512 AS BIGINT) AS pack_id FROM c"),

    "q_text_tokens" ->
      ("SELECT doc_id, " +
        "CAST(length(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens_ws, " +
        "CAST(length(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]')) AS INT) AS n_tokens_bpeish, " +
        "CAST(length(text) AS INT) AS len_chars FROM documents"),

    // BPE-denominated packing: the q_text_tokens_bpe merge-loop replay
    // feeding q_pack's exclusive-cumsum arithmetic — the oracle derives
    // BOTH halves independently
    "q_pack_bpe" ->
      ("WITH RECURSIVE " +
        s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValues}), " +
        "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
        "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM documents), " +
        "occ AS (SELECT doc_id, unnest(ws) AS tok FROM pre), " +
        "vocab AS (SELECT DISTINCT tok FROM occ), " +
        "steps(tok, s) AS (" +
        "SELECT tok, chr(31) || array_to_string(string_split(tok, ''), chr(31)) || chr(31) FROM vocab " +
        "UNION ALL " +
        "SELECT tok, substr(s, 1, idx - 1) || chr(31) || lhs || rhs || chr(31) " +
        "|| substr(s, idx + length(chr(31) || lhs || chr(31) || rhs || chr(31))) " +
        "FROM (SELECT st.tok, st.s, best.lhs, best.rhs, " +
        "strpos(st.s, chr(31) || best.lhs || chr(31) || best.rhs || chr(31)) AS idx " +
        "FROM steps st, LATERAL (SELECT m.lhs, m.rhs FROM m " +
        "WHERE strpos(st.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0 " +
        "ORDER BY m.rnk LIMIT 1) AS best) t), " +
        "fin AS (SELECT tok, s FROM steps t WHERE NOT EXISTS (SELECT 1 FROM m " +
        "WHERE strpos(t.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0)), " +
        "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n FROM fin), " +
        "perdoc AS (SELECT o.doc_id, sum(tc.n) AS n FROM occ o JOIN tokcnt tc USING (tok) GROUP BY o.doc_id), " +
        "cnt AS (SELECT d.doc_id, d.source, CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens " +
        "FROM documents d LEFT JOIN perdoc p USING (doc_id)), " +
        "c2 AS (SELECT doc_id, source, n_tokens, " +
        "COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM cnt) " +
        "SELECT doc_id, source, n_tokens, CAST(cum // 512 AS BIGINT) AS pack_id FROM c2"),

    // merge-loop replay + deterministic id mapping (formed = lhs||rhs →
    // min rank; single-codepoint tokens → unicode())
    "q_text_token_ids" ->
      ("WITH RECURSIVE " + BpeIdsCtes + ", " +
        "perdoc AS (SELECT o.doc_id, md5(string_agg(pt.ids_str, ',' ORDER BY o.widx)) AS ids_md5 " +
        "FROM occ o JOIN pertok pt USING (tok) GROUP BY o.doc_id) " +
        "SELECT d.doc_id, coalesce(p.ids_md5, md5('')) AS ids_md5 " +
        "FROM documents d LEFT JOIN perdoc p USING (doc_id)"),

    // the same per-doc id replay, then the example cut re-derived from
    // first principles: EOS append, (md5(id), id) global order, direct
    // global row_number over the token stream, slice by p div 64, and
    // the ordered per-example id digest — full examples only
    "q_examples" ->
      ("WITH RECURSIVE " + BpeIdsCtes + ", " +
        "perdoc AS (SELECT o.doc_id, string_agg(pt.ids_str, ',' ORDER BY o.widx) AS ids_str " +
        "FROM occ o JOIN pertok pt USING (tok) GROUP BY o.doc_id), " +
        "seqs AS (SELECT d.doc_id, coalesce(p.ids_str || ',', '') || '2000000' AS seq " +
        "FROM documents d LEFT JOIN perdoc p USING (doc_id)), " +
        "tok2 AS (SELECT doc_id, unnest(string_split(seq, ',')) AS tid, " +
        "generate_subscripts(string_split(seq, ','), 1) AS ti FROM seqs), " +
        "pos AS (SELECT tid, row_number() OVER " +
        "(ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id, ti) - 1 AS p FROM tok2), " +
        "g AS (SELECT p // 64 AS example_id, count(*) AS n, " +
        "md5(string_agg(tid, ',' ORDER BY p)) AS ids_md5 FROM pos GROUP BY p // 64) " +
        "SELECT CAST(example_id AS BIGINT) AS example_id, ids_md5 FROM g WHERE n = 64"),

    // round-trip contract: decode(encode(text)) == text, so the oracle is
    // the identity md5 — the strongest possible independent check of the
    // decode path given encode is separately oracled (q_text_token_ids)
    "q_text_detok" ->
      "SELECT doc_id, md5(coalesce(text, '')) AS detok_md5 FROM documents",

    // cut points = first 32 md5 bits of (id:a)/(id:b) mod (len+1); PSM
    // reassembly and the 50% id-hash selection replayed in substr/hex
    // arithmetic
    "q_fim" -> {
      val hex = Sampling.fractionThresholdHex(0.5)
      def cut(tag: String) =
        s"CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '$tag'), 1, 8)) AS BIGINT) % (length(text) + 1)"
      "WITH c AS (SELECT doc_id, text, " +
        s"least(${cut(":a")}, ${cut(":b")}) AS lo, " +
        s"greatest(${cut(":a")}, ${cut(":b")}) AS hi, " +
        s"md5(CAST(doc_id AS VARCHAR)) < '$hex' AS sel FROM documents) " +
        "SELECT doc_id, CAST(CASE WHEN sel THEN 1 ELSE 0 END AS BIGINT) AS fim, " +
        "md5(coalesce(CASE WHEN sel THEN " +
        "'<PRE>' || substr(text, 1, CAST(lo AS INT)) || " +
        "'<SUF>' || substr(text, CAST(hi + 1 AS INT), CAST(length(text) - hi AS INT)) || " +
        "'<MID>' || substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT)) " +
        "ELSE text END, '')) AS out_md5 FROM c"
    },

    // selection, sentinel ordinals, and both reassemblies replayed with
    // the same md5-threshold + list arithmetic (blocks of 3, p = 0.25)
    "q_span_corrupt" -> {
      val hex = Sampling.fractionThresholdHex(0.25)
      def sel(v: String) =
        s"md5(CAST(doc_id AS VARCHAR) || ':' || CAST($v AS VARCHAR)) < '$hex'"
      val ord = s"'<extra_id_' || CAST(len(list_filter(blocks[1:x], y -> ${sel("y")})) AS VARCHAR) || '>'"
      "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents), " +
        "b AS (SELECT doc_id, ws, generate_series(0, CAST(floor((len(ws) - 1) / 3.0) AS INT)) AS blocks FROM t) " +
        "SELECT doc_id, " +
        "CAST(coalesce(len(blocks), 0) AS BIGINT) AS n_blocks, " +
        s"CAST(coalesce(len(list_filter(blocks, x -> ${sel("x")})), 0) AS BIGINT) AS n_masked, " +
        "md5(coalesce(array_to_string(flatten(list_transform(blocks, x -> " +
        s"CASE WHEN ${sel("x")} THEN [$ord] " +
        "ELSE ws[x * 3 + 1 : x * 3 + 3] END)), ' '), '')) AS inputs_md5, " +
        "md5(coalesce(array_to_string(flatten(list_transform(" +
        s"list_filter(blocks, x -> ${sel("x")}), x -> " +
        s"[$ord] || ws[x * 3 + 1 : x * 3 + 3])), ' '), '')) AS targets_md5 " +
        "FROM b"
    },

    // merge-loop replay for per-pretoken counts, then the conveyor cut as
    // one window cumsum (chunk = exclusive cum // 8) and ordered reassembly
    "q_chunk_tokens" ->
      ("WITH RECURSIVE " +
        s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValues}), " +
        "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
        "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM documents), " +
        "occ AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS widx FROM pre), " +
        "vocab AS (SELECT DISTINCT tok FROM occ), " +
        "steps(tok, s) AS (" +
        "SELECT tok, chr(31) || array_to_string(string_split(tok, ''), chr(31)) || chr(31) FROM vocab " +
        "UNION ALL " +
        "SELECT tok, substr(s, 1, idx - 1) || chr(31) || lhs || rhs || chr(31) " +
        "|| substr(s, idx + length(chr(31) || lhs || chr(31) || rhs || chr(31))) " +
        "FROM (SELECT st.tok, st.s, best.lhs, best.rhs, " +
        "strpos(st.s, chr(31) || best.lhs || chr(31) || best.rhs || chr(31)) AS idx " +
        "FROM steps st, LATERAL (SELECT m.lhs, m.rhs FROM m " +
        "WHERE strpos(st.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0 " +
        "ORDER BY m.rnk LIMIT 1) AS best) t), " +
        "fin AS (SELECT tok, s FROM steps t WHERE NOT EXISTS (SELECT 1 FROM m " +
        "WHERE strpos(t.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0)), " +
        "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n FROM fin), " +
        "cum AS (SELECT o.doc_id, o.tok, o.widx, tc.n, " +
        "COALESCE(SUM(tc.n) OVER (PARTITION BY o.doc_id ORDER BY o.widx " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c " +
        "FROM occ o JOIN tokcnt tc USING (tok)), " +
        "ch AS (SELECT doc_id, c // 8 AS cid, CAST(sum(n) AS BIGINT) AS n_tokens, " +
        "md5(string_agg(tok, '' ORDER BY widx)) AS chunk_md5 " +
        "FROM cum GROUP BY doc_id, c // 8) " +
        "SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY cid) - 1 AS chunk_idx, " +
        "n_tokens, chunk_md5 FROM ch"),

    // full BPE replay: distinct pre-tokens run the merge loop as a
    // recursive CTE (state = chr(31)-delimited symbol string; each step
    // finds the min-rank pair PRESENT via strpos and splices its leftmost
    // occurrence — exactly graft.text.BpeCore's contract), then counts and
    // the chr(30)-joined token sequence fold back per document
    "q_text_tokens_bpe" ->
      ("WITH RECURSIVE " +
        s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValues}), " +
        "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
        "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM documents), " +
        "occ AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS widx FROM pre), " +
        "vocab AS (SELECT DISTINCT tok FROM occ), " +
        "steps(tok, s) AS (" +
        "SELECT tok, chr(31) || array_to_string(string_split(tok, ''), chr(31)) || chr(31) FROM vocab " +
        "UNION ALL " +
        "SELECT tok, substr(s, 1, idx - 1) || chr(31) || lhs || rhs || chr(31) " +
        "|| substr(s, idx + length(chr(31) || lhs || chr(31) || rhs || chr(31))) " +
        "FROM (SELECT st.tok, st.s, best.lhs, best.rhs, " +
        "strpos(st.s, chr(31) || best.lhs || chr(31) || best.rhs || chr(31)) AS idx " +
        "FROM steps st, LATERAL (SELECT m.lhs, m.rhs FROM m " +
        "WHERE strpos(st.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0 " +
        "ORDER BY m.rnk LIMIT 1) AS best) t), " +
        "fin AS (SELECT tok, s FROM steps t WHERE NOT EXISTS (SELECT 1 FROM m " +
        "WHERE strpos(t.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0)), " +
        "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n, " +
        "replace(substr(s, 2, length(s) - 2), chr(31), chr(30)) AS toks FROM fin), " +
        "perdoc AS (SELECT o.doc_id, sum(tc.n) AS n_tokens_bpe, " +
        "md5(string_agg(tc.toks, chr(30) ORDER BY o.widx)) AS tokens_md5 " +
        "FROM occ o JOIN tokcnt tc USING (tok) GROUP BY o.doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(p.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe, " +
        "coalesce(p.tokens_md5, md5('')) AS tokens_md5 " +
        "FROM documents d LEFT JOIN perdoc p USING (doc_id)"),

    // the same merge-loop replay, reduced to counts and grouped by lang
    // with the identical integer permille arithmetic
    "q_tokenizer_fertility" ->
      ("WITH RECURSIVE " +
        s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValues}), " +
        "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
        "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM documents), " +
        "occ AS (SELECT doc_id, unnest(ws) AS tok FROM pre), " +
        "vocab AS (SELECT DISTINCT tok FROM occ), " +
        "steps(tok, s) AS (" +
        "SELECT tok, chr(31) || array_to_string(string_split(tok, ''), chr(31)) || chr(31) FROM vocab " +
        "UNION ALL " +
        "SELECT tok, substr(s, 1, idx - 1) || chr(31) || lhs || rhs || chr(31) " +
        "|| substr(s, idx + length(chr(31) || lhs || chr(31) || rhs || chr(31))) " +
        "FROM (SELECT st.tok, st.s, best.lhs, best.rhs, " +
        "strpos(st.s, chr(31) || best.lhs || chr(31) || best.rhs || chr(31)) AS idx " +
        "FROM steps st, LATERAL (SELECT m.lhs, m.rhs FROM m " +
        "WHERE strpos(st.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0 " +
        "ORDER BY m.rnk LIMIT 1) AS best) t), " +
        "fin AS (SELECT tok, s FROM steps t WHERE NOT EXISTS (SELECT 1 FROM m " +
        "WHERE strpos(t.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0)), " +
        "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n FROM fin), " +
        "perdoc AS (SELECT o.doc_id, sum(tc.n) AS nb " +
        "FROM occ o JOIN tokcnt tc USING (tok) GROUP BY o.doc_id), " +
        "base AS (SELECT d.lang, coalesce(p.nb, 0) AS nb, " +
        "length(string_split_regex(trim(d.text), '\\s+')) AS nw, " +
        "length(d.text) AS nc FROM documents d LEFT JOIN perdoc p USING (doc_id)) " +
        "SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(nb) AS BIGINT) AS n_bpe_tokens, " +
        "CAST(sum(nw) AS BIGINT) AS n_ws_tokens, " +
        "CAST(sum(nc) AS BIGINT) AS n_chars, " +
        "(CAST(sum(nb) AS BIGINT) * 1000) // greatest(CAST(sum(nw) AS BIGINT), 1) AS fertility_permille, " +
        "(CAST(sum(nc) AS BIGINT) * 1000) // greatest(CAST(sum(nb) AS BIGINT), 1) AS chars_per_token_permille " +
        "FROM base GROUP BY lang"),

    // byte-level merge-loop replay: the fixture text is rebuilt with chr()
    // codepoints, then each pre-token's chars decompose to UTF-8 bytes by
    // pure arithmetic (chr(byte) symbols) before the identical min-rank
    // leftmost-splice recursion over the byte-level merges table
    "q_text_tokens_bpe_bytes" ->
      ("WITH RECURSIVE " +
        s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValuesBytes}), " +
        "fx AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233) || ' d' || chr(233) || 'j' || chr(224) || " +
        "' vu' || chr(8230) ELSE '' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' ' || chr(128512) || 'ok' ELSE '' END AS text " +
        "FROM documents), " +
        "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
        "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM fx), " +
        "occ AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS widx FROM pre), " +
        "vocab AS (SELECT DISTINCT tok FROM occ), " +
        "steps(tok, s) AS (" +
        "SELECT tok, chr(31) || array_to_string(list_transform(string_split(tok, ''), c -> " +
        "CASE WHEN unicode(c) < 128 THEN c " +
        "WHEN unicode(c) < 2048 THEN chr(192 + unicode(c) // 64) || chr(31) || chr(128 + unicode(c) % 64) " +
        "WHEN unicode(c) < 65536 THEN chr(224 + unicode(c) // 4096) || chr(31) || " +
        "chr(128 + (unicode(c) // 64) % 64) || chr(31) || chr(128 + unicode(c) % 64) " +
        "ELSE chr(240 + unicode(c) // 262144) || chr(31) || chr(128 + (unicode(c) // 4096) % 64) || " +
        "chr(31) || chr(128 + (unicode(c) // 64) % 64) || chr(31) || chr(128 + unicode(c) % 64) END" +
        "), chr(31)) || chr(31) FROM vocab " +
        "UNION ALL " +
        "SELECT tok, substr(s, 1, idx - 1) || chr(31) || lhs || rhs || chr(31) " +
        "|| substr(s, idx + length(chr(31) || lhs || chr(31) || rhs || chr(31))) " +
        "FROM (SELECT st.tok, st.s, best.lhs, best.rhs, " +
        "strpos(st.s, chr(31) || best.lhs || chr(31) || best.rhs || chr(31)) AS idx " +
        "FROM steps st, LATERAL (SELECT m.lhs, m.rhs FROM m " +
        "WHERE strpos(st.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0 " +
        "ORDER BY m.rnk LIMIT 1) AS best) t), " +
        "fin AS (SELECT tok, s FROM steps t WHERE NOT EXISTS (SELECT 1 FROM m " +
        "WHERE strpos(t.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0)), " +
        "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n, " +
        "replace(substr(s, 2, length(s) - 2), chr(31), chr(30)) AS toks FROM fin), " +
        "perdoc AS (SELECT o.doc_id, sum(tc.n) AS n_tokens_bpe, " +
        "md5(string_agg(tc.toks, chr(30) ORDER BY o.widx)) AS tokens_md5 " +
        "FROM occ o JOIN tokcnt tc USING (tok) GROUP BY o.doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(p.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe, " +
        "coalesce(p.tokens_md5, md5('')) AS tokens_md5 " +
        "FROM fx d LEFT JOIN perdoc p USING (doc_id)"),

    "q_text_fingerprint" ->
      ("SELECT doc_id, md5(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')) AS canon_md5 " +
        "FROM documents"),

    "q_repetition_ngram" -> RepetitionNgramOracleSql,

    // the signal replay wrapped with the published-threshold flag
    // arithmetic (integer cross-multiplications, product conjunction)
    "q_repetition_rules" ->
      (s"WITH base AS ($RepetitionNgramOracleSql) " +
        "SELECT doc_id, n_word_chars, " +
        "CAST(CASE WHEN top2_chars * 1000 <= n_word_chars * 200 THEN 1 ELSE 0 END AS BIGINT) AS r_top2, " +
        "CAST(CASE WHEN top3_chars * 1000 <= n_word_chars * 180 THEN 1 ELSE 0 END AS BIGINT) AS r_top3, " +
        "CAST(CASE WHEN top4_chars * 1000 <= n_word_chars * 160 THEN 1 ELSE 0 END AS BIGINT) AS r_top4, " +
        "CAST(CASE WHEN dup5_chars * 1000 <= n_word_chars * 150 THEN 1 ELSE 0 END AS BIGINT) AS r_dup5, " +
        "CAST(CASE WHEN dup10_chars * 1000 <= n_word_chars * 100 THEN 1 ELSE 0 END AS BIGINT) AS r_dup10, " +
        "CAST((CASE WHEN top2_chars * 1000 <= n_word_chars * 200 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN top3_chars * 1000 <= n_word_chars * 180 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN top4_chars * 1000 <= n_word_chars * 160 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN dup5_chars * 1000 <= n_word_chars * 150 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN dup10_chars * 1000 <= n_word_chars * 100 THEN 1 ELSE 0 END) AS BIGINT) AS passes " +
        "FROM base"),

    "q_text_repetition" ->
      ("WITH lines AS (SELECT doc_id, " +
        "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls " +
        "FROM documents), " +
        "lstats AS (SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, " +
        "CAST(len(ls) - len(list_distinct(ls)) AS INT) AS n_dup_lines FROM lines), " +
        "words AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents), " +
        "wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w), " +
        "wagg AS (SELECT doc_id, max(c) AS top_word_count, CAST(sum(c) AS BIGINT) AS n_words_alpha, " +
        "count(*) AS n_distinct_words FROM wc GROUP BY doc_id) " +
        "SELECT l.doc_id, l.n_lines, l.n_dup_lines, " +
        "COALESCE(w.top_word_count, 0) AS top_word_count, " +
        "COALESCE(w.n_words_alpha, 0) AS n_words_alpha, " +
        "COALESCE(w.n_distinct_words, 0) AS n_distinct_words " +
        "FROM lstats l LEFT JOIN wagg w USING (doc_id)"),

    // re-derives the language from the fixture text: unicode-range CASE for
    // the script classes, stopword-hit-count argmax (strict, mirroring the
    // heuristic's vote) for the Latin classes
    "q_lang_id" ->
      ("WITH fx AS (SELECT doc_id, CASE CAST(doc_id % 9 AS INT) " +
        "WHEN 0 THEN '这是一个测试文档' WHEN 1 THEN 'これはテストです' " +
        "WHEN 2 THEN '이것은 테스트입니다' WHEN 3 THEN 'это тестовый документ' " +
        "WHEN 4 THEN 'هذا مستند تجريبي' WHEN 5 THEN 'यह एक परीक्षण है' " +
        "WHEN 6 THEN 'the quick and of to in is that' " +
        "WHEN 7 THEN 'el y los las una como' " +
        "ELSE 'zzz qqq xxx' END AS t FROM documents), " +
        "hits AS (SELECT doc_id, t, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('the','and','of','to','in','is','that','it','was','for','on','are','with','as','at','this','have','be','not','you'))) AS en_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('el','la','de','que','y','en','un','una','los','las','por','con','para','es','no','se','del','su','al','como'))) AS es_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('le','la','les','de','des','et','en','un','une','du','que','qui','dans','pour','est','pas','sur','ce','il','au'))) AS fr_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('der','die','das','und','in','den','von','zu','mit','ist','des','im','nicht','ein','eine','auf','als','auch','es','an'))) AS de_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('il','la','di','che','e','in','un','una','per','del','con','non','le','si','dei','al','da','come','anche','ma'))) AS it_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('o','a','de','que','e','do','da','em','um','uma','para','com','os','as','no','na','por','mais','dos','se'))) AS pt_h " +
        "FROM fx) " +
        "SELECT doc_id, CASE " +
        "WHEN unicode(t) BETWEEN 19968 AND 40959 THEN 'zh' " +
        "WHEN unicode(t) BETWEEN 12352 AND 12543 THEN 'ja' " +
        "WHEN unicode(t) BETWEEN 44032 AND 55215 THEN 'ko' " +
        "WHEN unicode(t) BETWEEN 1024 AND 1279 THEN 'ru' " +
        "WHEN unicode(t) BETWEEN 1536 AND 1791 THEN 'ar' " +
        "WHEN unicode(t) BETWEEN 2304 AND 2431 THEN 'hi' " +
        "WHEN en_h > 0 AND en_h > es_h AND en_h > fr_h AND en_h > de_h AND en_h > it_h AND en_h > pt_h THEN 'en' " +
        "WHEN es_h > 0 AND es_h > en_h AND es_h > fr_h AND es_h > de_h AND es_h > it_h AND es_h > pt_h THEN 'es' " +
        "WHEN fr_h > 0 AND fr_h > en_h AND fr_h > es_h AND fr_h > de_h AND fr_h > it_h AND fr_h > pt_h THEN 'fr' " +
        "WHEN de_h > 0 AND de_h > en_h AND de_h > es_h AND de_h > fr_h AND de_h > it_h AND de_h > pt_h THEN 'de' " +
        "WHEN it_h > 0 AND it_h > en_h AND it_h > es_h AND it_h > fr_h AND it_h > de_h AND it_h > pt_h THEN 'it' " +
        "WHEN pt_h > 0 AND pt_h > en_h AND pt_h > es_h AND pt_h > fr_h AND pt_h > de_h AND pt_h > it_h THEN 'pt' " +
        "ELSE 'und' END AS lang_pred FROM hits"),

    // word-aligned 40-char gram digests re-derived string-exactly (md5 is
    // sentence extraction (same RE2/Java-agreeing pattern), chr(31)
    // span digests, (doc_id, pos)-first keeper, coverage-union splice
    "q_dedup_sentences" ->
      (s"WITH rt AS (SELECT doc_id, text || " +
        s"CASE WHEN doc_id % 3 = 0 THEN '$sent3Tail' ELSE '' END || " +
        s"CASE WHEN doc_id % 5 = 0 THEN '$sent5Tail' ELSE '' END AS text FROM documents), " +
        "pc AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$') AS ps FROM rt), " +
        "occ AS (SELECT doc_id, p AS pos, " +
        "md5(array_to_string(list_transform(ps[p+1:p+3], x -> trim(x)), chr(31))) AS dg " +
        "FROM pc, unnest(generate_series(0, len(ps) - 3)) AS u(p)), " +
        "fst AS (SELECT dg, doc_id AS kid, pos AS kpos FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY dg ORDER BY doc_id, pos) AS rn FROM occ) WHERE rn = 1), " +
        "drops AS (SELECT o.doc_id, o.pos FROM occ o JOIN fst f USING (dg) " +
        "WHERE NOT (o.doc_id = f.kid AND o.pos = f.kpos)), " +
        "dl AS (SELECT doc_id, list(pos ORDER BY pos) AS dps FROM drops GROUP BY doc_id), " +
        "outp AS (SELECT pc.doc_id, " +
        "CASE WHEN dl.doc_id IS NULL THEN array_to_string(ps, '') ELSE " +
        "array_to_string(list_transform(list_filter(generate_series(0, len(ps) - 1), " +
        "i -> len(list_filter(dl.dps, d -> d <= i AND i < d + 3)) = 0), " +
        "i -> ps[CAST(i AS INT) + 1]), '') END AS cleaned, " +
        "CASE WHEN dl.doc_id IS NULL THEN 0 ELSE " +
        "len(ps) - len(list_filter(generate_series(0, len(ps) - 1), " +
        "i -> len(list_filter(dl.dps, d -> d <= i AND i < d + 3)) = 0)) END AS nrem " +
        "FROM pc LEFT JOIN dl USING (doc_id)) " +
        "SELECT doc_id, md5(COALESCE(cleaned, '')) AS clean_md5, " +
        "CAST(nrem AS BIGINT) AS n_sentences_removed FROM outp"),

    // the same function in both engines); range(1, len-38) is positions
    // 1..len-39 = the Spark sequence(1, length-39)
    "q_dedup_substring" ->
      ("WITH grams AS (SELECT doc_id, unnest(list_distinct(" +
        "[md5(substr(text, CAST(i AS INT), 40)) FOR i IN range(1, len(text) - 38) " +
        "IF i = 1 OR substr(text, CAST(i AS INT) - 1, 1) = ' '])) AS g " +
        "FROM documents WHERE len(text) >= 40), " +
        "shared AS (SELECT g FROM (SELECT g, count(*) AS nd FROM grams GROUP BY g) " +
        "WHERE nd >= 2) " +
        "SELECT doc_id, count(*) AS n_shared_grams " +
        "FROM grams JOIN shared USING (g) GROUP BY doc_id"),

    // same gram occurrences re-derived 1-based (pos = i-1 matches Spark's
    // 0-based offsets), then the identical gaps-and-islands interval merge
    "q_dedup_spans" ->
      (s"WITH $SharedSpanCtes " +
        "SELECT doc_id, count(*) AS n_spans, CAST(sum(e - s) AS BIGINT) AS n_chars_covered " +
        "FROM spans GROUP BY doc_id"),

    // identical span table, then the identical splice: between-spans
    // segments stitched in order plus the tail — md5 matches only if both
    // engines cut the same bytes
    "q_dedup_clean" ->
      (s"WITH $SharedSpanCtes, " +
        "seg AS (SELECT doc_id, s, e, coalesce(lag(e) OVER " +
        "(PARTITION BY doc_id ORDER BY s), 0) AS c FROM spans), " +
        "pieces AS (SELECT seg.doc_id, " +
        "string_agg(substr(d.text, seg.c + 1, seg.s - seg.c), '' ORDER BY seg.s) AS body, " +
        "max(seg.e) AS laste FROM seg JOIN documents d USING (doc_id) GROUP BY seg.doc_id) " +
        "SELECT d.doc_id, md5(CASE WHEN p.doc_id IS NULL THEN d.text " +
        "ELSE p.body || substr(d.text, p.laste + 1, len(d.text) - p.laste) END) AS clean_md5, " +
        "CAST(len(d.text) - len(CASE WHEN p.doc_id IS NULL THEN d.text " +
        "ELSE p.body || substr(d.text, p.laste + 1, len(d.text) - p.laste) END) AS BIGINT) " +
        "AS n_chars_removed " +
        "FROM documents d LEFT JOIN pieces p USING (doc_id)"),

    // brute-force cross-set Jaccard between the rebuilt batch and the
    // corpus — same inverted-index CTE shape as JaccardPairsCtes, valid
    // for the same recall reasons (exact copies collide in every band;
    // near-dups at ≥ 0.8 detect at ≈ 0.9998)
    "q_dedup_incremental" -> IncrementalOracleSql,

    // identical oracle by design: the Bloom screen must be result-invariant
    "q_dedup_incremental_bloom" -> IncrementalOracleSql,

    // the word-unit twin: brute-force 13-WORD-gram Jaccard across the
    // batch × corpus cut (same split, same threshold)
    "q_dedup_incremental_words" ->
      ("WITH bt AS (SELECT doc_id + 1000000 AS new_id, text FROM documents WHERE doc_id % 10 = 0), " +
        "wta AS (SELECT new_id, list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS t FROM bt), " +
        "wtb AS (SELECT doc_id, list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS t FROM documents), " +
        "ga AS (SELECT new_id, unnest(list_distinct(CASE WHEN len(t) = 0 THEN [] " +
        "WHEN len(t) < 13 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(range(1, len(t) - 11), i -> array_to_string(t[i:i+12], ' ')) END)) AS gram FROM wta), " +
        "gb AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) = 0 THEN [] " +
        "WHEN len(t) < 13 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(range(1, len(t) - 11), i -> array_to_string(t[i:i+12], ' ')) END)) AS gram FROM wtb), " +
        "sa AS (SELECT new_id, count(*) AS sz FROM ga GROUP BY new_id), " +
        "sb AS (SELECT doc_id, count(*) AS sz FROM gb GROUP BY doc_id), " +
        "co AS (SELECT a.new_id, b.doc_id AS corpus_id, count(*) AS inter " +
        "FROM ga a JOIN gb b USING (gram) GROUP BY 1, 2) " +
        "SELECT co.new_id AS new_id, co.corpus_id AS corpus_id FROM co " +
        "JOIN sa ON sa.new_id = co.new_id JOIN sb ON sb.doc_id = co.corpus_id " +
        "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8"),

    // rebuilds the line-dedup fixture, replays the identical
    // first-occurrence rule (row_number over digest ordered by doc, pos =
    // Spark's min(struct(id, pos))), and re-splices kept lines in order —
    // clean_md5 only matches if both engines keep byte-identical lines
    // same fixture URLs; extraction/normalization replayed with the same
    // RE2-parity patterns; blocklist hit via unnest + VALUES join
    "q_url_filter" ->
      ("WITH fx AS (SELECT doc_id, text || ' see https://Site-' || " +
        "CAST(doc_id % 7 AS VARCHAR) || '.example.com/page?id=' || " +
        "CAST(doc_id AS VARCHAR) || ' and http://www.Mirror-' || " +
        "CAST(doc_id % 3 AS VARCHAR) || '.example.org/x' AS text FROM documents), " +
        "e AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(:[0-9]{1,5})?[A-Za-z0-9/._~%+&#?=-]*')) AS n_urls, " +
        "list_sort(list_distinct(list_transform(" +
        "regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(:[0-9]{1,5})?[A-Za-z0-9/._~%+&#?=-]*'), " +
        "x -> regexp_replace(regexp_extract(lower(x), 'https?://([a-z0-9.-]+)', 1), '^www\\.', '')))) AS doms " +
        "FROM fx), " +
        "hits AS (SELECT DISTINCT doc_id FROM " +
        "(SELECT doc_id, unnest(doms) AS d FROM e) q " +
        "JOIN (VALUES ('site-2.example.com'), ('mirror-1.example.org')) AS bl(d) USING (d)) " +
        "SELECT e.doc_id, CAST(n_urls AS BIGINT) AS n_urls, " +
        "CAST(len(doms) AS BIGINT) AS n_domains, " +
        "array_to_string(doms, ',') AS domains_csv, " +
        "CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS blocked " +
        "FROM e LEFT JOIN hits h ON e.doc_id = h.doc_id"),

    // key/keeper/flag replay: same extraction, same literal-replacement
    // normalization chain, min-id keeper, URL-less docs always kept
    "q_dedup_url" ->
      ("WITH fx AS (SELECT doc_id, text || CASE WHEN doc_id % 4 <> 3 THEN " +
        "' see https://WWW.Example.com:8080/page' || CAST(doc_id % 17 AS VARCHAR) " +
        "|| '/#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END AS text FROM documents), " +
        "u0 AS (SELECT doc_id, lower(regexp_extract(text, " +
        "'https?://[A-Za-z0-9.-]+(:[0-9]{1,5})?[A-Za-z0-9/._~%+&#?=-]*', 0)) AS u FROM fx), " +
        "k AS (SELECT doc_id, CASE WHEN u IS NULL OR u = '' THEN NULL ELSE " +
        "regexp_replace(regexp_extract(u, 'https?://([a-z0-9.-]+)', 1), '^www\\.', '') || " +
        "regexp_replace(regexp_replace(regexp_replace(u, " +
        "'^https?://[a-z0-9.-]+(:[0-9]{1,5})?', ''), '#.*$', ''), '/$', '') END AS url_key " +
        "FROM u0), " +
        "keep AS (SELECT url_key, min(doc_id) AS kid FROM k " +
        "WHERE url_key IS NOT NULL GROUP BY url_key) " +
        "SELECT k.doc_id, k.url_key, " +
        "CAST(CASE WHEN k.url_key IS NULL OR k.doc_id = kp.kid THEN 1 ELSE 0 END AS BIGINT) AS kept " +
        "FROM k LEFT JOIN keep kp USING (url_key)"),

    // the oracle rebuilds the index semantics in SQL: corpus digests are a
    // DISTINCT set; a batch line drops when its digest is in that set OR a
    // batch-internal (id, pos) predecessor shares it; splice as q_dedup_lines
    "q_dedup_lines_incr" ->
      ("WITH fx AS (SELECT doc_id, 'shared header line for corpus group ' || " +
        "CAST(doc_id % 5 AS VARCHAR) || chr(10) || text || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'shared even-documents footer boilerplate line' " +
        "ELSE '' END AS text FROM documents), " +
        "bat AS (SELECT * FROM fx WHERE doc_id % 4 = 0), " +
        "cls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM fx WHERE doc_id % 4 <> 0), " +
        "cl AS (SELECT arr[CAST(i AS INT)] AS ln FROM cls, unnest(range(1, len(arr) + 1)) AS t(i)), " +
        "cdg AS (SELECT DISTINCT md5(ln) AS dg FROM cl WHERE length(trim(ln)) >= 10), " +
        "ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM bat), " +
        "l AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, arr[CAST(i AS INT)] AS ln " +
        "FROM ls, unnest(range(1, len(arr) + 1)) AS t(i)), " +
        "el AS (SELECT doc_id, pos, md5(ln) AS dg FROM l WHERE length(trim(ln)) >= 10), " +
        "rk AS (SELECT doc_id, pos, dg, row_number() OVER " +
        "(PARTITION BY dg ORDER BY doc_id, pos) AS rn FROM el), " +
        "dr AS (SELECT doc_id, pos FROM rk WHERE rn > 1 " +
        "OR dg IN (SELECT dg FROM cdg)), " +
        "kept AS (SELECT l.doc_id, l.pos, l.ln FROM l LEFT JOIN dr " +
        "ON l.doc_id = dr.doc_id AND l.pos = dr.pos WHERE dr.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS cleaned " +
        "FROM kept GROUP BY doc_id), " +
        "nrm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dr GROUP BY doc_id) " +
        "SELECT b.doc_id, md5(coalesce(a.cleaned, '')) AS clean_md5, " +
        "coalesce(n.n, 0) AS n_lines_removed FROM bat b " +
        "LEFT JOIN agg a USING (doc_id) LEFT JOIN nrm n USING (doc_id)"),

    "q_dedup_lines" ->
      ("WITH fx AS (SELECT doc_id, 'shared header line for corpus group ' || " +
        "CAST(doc_id % 5 AS VARCHAR) || chr(10) || text || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'shared even-documents footer boilerplate line' " +
        "ELSE '' END AS text FROM documents), " +
        "ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM fx), " +
        "l AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, arr[CAST(i AS INT)] AS ln " +
        "FROM ls, unnest(range(1, len(arr) + 1)) AS t(i)), " +
        "el AS (SELECT doc_id, pos, md5(ln) AS dg FROM l WHERE length(trim(ln)) >= 10), " +
        "rk AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY dg " +
        "ORDER BY doc_id, pos) AS rn FROM el), " +
        "dr AS (SELECT doc_id, pos FROM rk WHERE rn > 1), " +
        "kept AS (SELECT l.doc_id, l.pos, l.ln FROM l LEFT JOIN dr " +
        "ON l.doc_id = dr.doc_id AND l.pos = dr.pos WHERE dr.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id), " +
        "nrm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dr GROUP BY doc_id) " +
        "SELECT f.doc_id, md5(coalesce(a.cleaned, '')) AS clean_md5, " +
        "coalesce(n.n, 0) AS n_lines_removed " +
        "FROM fx f LEFT JOIN agg a USING (doc_id) LEFT JOIN nrm n USING (doc_id)"),

    // paragraph replay: the line-dedup oracle with a two-newline separator
    // and the paragraph fixture (min eligible length 20)
    "q_dedup_paragraphs" ->
      ("WITH fx AS (SELECT doc_id, 'shared introductory paragraph for corpus group ' || " +
        "CAST(doc_id % 6 AS VARCHAR) || chr(10) || chr(10) || text || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || chr(10) || " +
        "'shared closing paragraph across all even documents' " +
        "ELSE '' END AS text FROM documents), " +
        "ls AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS arr FROM fx), " +
        "l AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, arr[CAST(i AS INT)] AS ln " +
        "FROM ls, unnest(range(1, len(arr) + 1)) AS t(i)), " +
        "el AS (SELECT doc_id, pos, md5(ln) AS dg FROM l WHERE length(trim(ln)) >= 20), " +
        "rk AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY dg " +
        "ORDER BY doc_id, pos) AS rn FROM el), " +
        "dr AS (SELECT doc_id, pos FROM rk WHERE rn > 1), " +
        "kept AS (SELECT l.doc_id, l.pos, l.ln FROM l LEFT JOIN dr " +
        "ON l.doc_id = dr.doc_id AND l.pos = dr.pos WHERE dr.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(ln, chr(10) || chr(10) ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id), " +
        "nrm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dr GROUP BY doc_id) " +
        "SELECT f.doc_id, md5(coalesce(a.cleaned, '')) AS clean_md5, " +
        "coalesce(n.n, 0) AS n_paras_removed " +
        "FROM fx f LEFT JOIN agg a USING (doc_id) LEFT JOIN nrm n USING (doc_id)"),

    // rebuilds the normalization fixture (chr(769) = the combining acute,
    // chr(9)/chr(10) = tab/newline), then re-normalizes with DuckDB's own
    // nfc_normalize — the md5 only matches if both engines produce the
    // identical composed, lowered, whitespace-collapsed string
    "q_text_normalize" -> {
      val norm = "trim(regexp_replace(lower(nfc_normalize(txt)), '[ \\t\\n\\r]+', ' ', 'g'))"
      "WITH t AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 2 = 0 THEN '  CAFE' || chr(769) || chr(9) || 'Mixed Case' ELSE '' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'tail  space   ' ELSE '' END AS txt " +
        "FROM documents) " +
        s"SELECT doc_id, md5($norm) AS norm_md5, " +
        s"CAST(length($norm) AS BIGINT) AS norm_len FROM t"
    },

    // rebuilds the PII fixture text, then re-derives counts and the
    // redacted md5 with RE2 regexes (same restricted pattern subset —
    // identical semantics to the Java engine on this grammar)
    "q_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      "WITH t AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END AS txt " +
        "FROM documents) " +
        "SELECT doc_id, " +
        s"CAST(len(regexp_extract_all(txt, '$email')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(txt, '$phone')) AS BIGINT) AS n_phones, " +
        s"CAST(len(regexp_extract_all(txt, '$ip')) AS BIGINT) AS n_ips, " +
        s"md5(regexp_replace(regexp_replace(regexp_replace(txt, '$email', '<EMAIL>', 'g'), " +
        s"'$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g')) AS redacted_md5 " +
        "FROM t"
    },

    "q_multimodal_meta" ->
      ("SELECT doc_id AS media_id, " +
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CAST(octet_length(encode(text)) AS INT) AS byte_len, sha256(text) AS sha FROM documents"),

    // differential oracle for the real container decode: expected header
    // fields derived from the generation rule (BMP: width 16, 24 bpp, rows
    // of 48 bytes, 54-byte header; WAV: canonical 44-byte header, 16-bit
    // PCM, payload padded to block align) — independent of the parser
    "q_multimodal_decode" ->
      ("WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS k, " +
        "(1 + doc_id % 2) * 2 AS ba, octet_length(encode(text)) AS len FROM documents) " +
        "SELECT media_id, " +
        "CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CAST(CASE WHEN k = 1 THEN 44 + ((len + ba - 1) // ba) * ba " +
        "ELSE 54 + 48 * greatest(1, (len + 47) // 48) END AS BIGINT) AS byte_len, " +
        "CASE WHEN k = 1 THEN 'wav' ELSE 'bmp' END AS format, " +
        "CAST(CASE WHEN k = 1 THEN 0 ELSE 16 END AS BIGINT) AS width, " +
        "CAST(CASE WHEN k = 1 THEN 0 ELSE greatest(1, (len + 47) // 48) END AS BIGINT) AS height, " +
        "CAST(CASE WHEN k = 1 THEN 8000 + (media_id % 5) * 2000 ELSE 0 END AS BIGINT) AS sample_rate, " +
        "CAST(CASE WHEN k = 1 THEN (len + ba - 1) // ba " +
        "ELSE 16 * greatest(1, (len + 47) // 48) END AS BIGINT) AS n_units FROM m"),

    // brute-force oracle: at sf0.01 the single true pair sits at cosine
    // 0.5128 (runner-up 0.4928), far from the threshold, and the seeded LSH
    // finds it deterministically (pinned by PipelineSpec); both engines run
    // the same sequential double-precision cosine loop
    "q_dedup_cosine" ->
      ("WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c " +
        "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b FROM p WHERE c >= 0.5"),

    // full PQ replay: codebooks from the md5 order, per-(vec, subspace)
    // argmin over codes with the same sequential (a-b)*(a-b) accumulation,
    // ADC as an s-ordered list_sum (sequential like the JVM loop), total
    // (adc, vec_id) tie-break — exact equality end to end
    "q_embed_pq_topk" ->
      ("WITH " + PqCommonCtes +
        "src AS (SELECT vec_id, embedding FROM embeddings), " +
        PqOracleTail),

    // the COMPOSED IVF+PQ replay: deterministic coarse centroids + probe
    // selection (cosine DESC, cidx ASC — the driver's sort), argmax cell
    // assignment, then the identical PQ encode/ADC tail restricted to
    // probed cells — the full index chain re-derived in one SQL
    "q_embed_ivfpq_topk" ->
      ("WITH cent AS (SELECT embedding AS cv, row_number() OVER " +
        "(ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx " +
        "FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8), " +
        PqCommonCtes +
        "probes AS (SELECT cidx FROM (SELECT c.cidx, row_number() OVER " +
        "(ORDER BY list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) DESC, " +
        "c.cidx ASC) AS rn FROM cent c CROSS JOIN q) WHERE rn <= 3), " +
        "cscored AS (SELECT e.vec_id, e.embedding, c.cidx, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS cs " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "asg AS (SELECT vec_id, embedding, cidx FROM (SELECT vec_id, embedding, cidx, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cidx ASC) AS rn FROM cscored) " +
        "WHERE rn = 1), " +
        "src AS (SELECT a.vec_id, a.embedding FROM asg a JOIN probes p USING (cidx)), " +
        PqOracleTail),

    // full SQ8 replay: corpus and query re-encoded with the same
    // floor(x*127/max+0.5) arithmetic; the code dot product is integer-
    // valued (exact in double at any summation order), the rescale is the
    // same three scalar ops — rankings are bit-identical by construction
    "q_embed_topk_sq8" ->
      ("WITH qraw AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0), " +
        "q AS (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS mq FROM qraw), " +
        "qc AS (SELECT mq, CASE WHEN mq = 0 THEN list_transform(qv, x -> CAST(0 AS BIGINT)) " +
        "ELSE list_transform(qv, x -> CAST(floor(x * 127.0 / mq + 0.5) AS BIGINT)) END AS c FROM q), " +
        "enc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
        "list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m FROM embeddings), " +
        "codes AS (SELECT vec_id, m, CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT)) " +
        "ELSE list_transform(v, x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT)) END AS c FROM enc), " +
        "s AS (SELECT codes.vec_id, " +
        "((list_inner_product(CAST(codes.c AS DOUBLE[]), CAST(qc.c AS DOUBLE[])) * codes.m) * qc.mq) / 16129.0 AS sc " +
        "FROM codes CROSS JOIN qc) " +
        "SELECT vec_id FROM s ORDER BY sc DESC, vec_id ASC LIMIT 10"),

    // per-query window rank with (score DESC, vec_id ASC) — equals the
    // bounded-heap join because rank-boundary margins dwarf float noise
    "q_embed_topk_join" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5), " +
        "s AS (SELECT q.query_id, e.vec_id, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS c " +
        "FROM embeddings e CROSS JOIN q), " +
        "r AS (SELECT query_id, vec_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rn FROM s) " +
        "SELECT query_id, vec_id FROM r WHERE rn <= 10"),

    // full per-query IVF replay: md5-ordered codebook, per-query probe
    // selection (cosine DESC, cidx ASC), argmax-cosine cell assignment
    // with first-index tie-break, exact rerank over the probed cells
    "q_embed_knn_join_ivf" ->
      ("WITH cent AS (SELECT embedding AS cv, row_number() OVER " +
        "(ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx " +
        "FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8), " +
        "q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "probes AS (SELECT query_id, cidx FROM (SELECT q.query_id, c.cidx, " +
        "row_number() OVER (PARTITION BY q.query_id " +
        "ORDER BY list_cosine_similarity(q.qv, CAST(c.cv AS DOUBLE[])) DESC, " +
        "c.cidx ASC) AS rn FROM cent c CROSS JOIN q) WHERE rn <= 3), " +
        "cscored AS (SELECT e.vec_id, e.embedding, c.cidx, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS cs " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "asg AS (SELECT vec_id, embedding, cidx FROM (SELECT vec_id, embedding, cidx, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cidx ASC) AS rn " +
        "FROM cscored) WHERE rn = 1), " +
        "cand AS (SELECT p.query_id, a.vec_id, a.embedding FROM asg a " +
        "JOIN probes p USING (cidx)), " +
        "r AS (SELECT cand.query_id, cand.vec_id, row_number() OVER " +
        "(PARTITION BY cand.query_id ORDER BY " +
        "list_cosine_similarity(CAST(cand.embedding AS DOUBLE[]), q.qv) DESC, " +
        "cand.vec_id ASC) AS rn FROM cand JOIN q ON q.query_id = cand.query_id) " +
        "SELECT query_id, vec_id FROM r WHERE rn <= 10"),

    // replays the deterministic codebook (md5-ordered first 8 ids), the
    // argmax-cosine assignment with the same first-index tie-break, and
    // the within-cluster pair threshold
    "q_dedup_semantic" ->
      ("WITH cent AS (SELECT embedding AS cv, row_number() OVER " +
        "(ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx " +
        "FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8), " +
        "scored AS (SELECT e.vec_id, e.embedding, c.cidx, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS cs " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "asg AS (SELECT vec_id, embedding, cidx FROM (SELECT vec_id, embedding, cidx, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cidx ASC) AS rn FROM scored) " +
        "WHERE rn = 1) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM asg a JOIN asg b " +
        "ON a.cidx = b.cidx AND a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), " +
        "CAST(b.embedding AS DOUBLE[])) >= 0.35"),

    "q_ingest_tsv" ->
      ("SELECT DISTINCT CAST(X AS DOUBLE) AS lon, CAST(Y AS DOUBLE) AS lat " +
        "FROM read_csv('/root/reference/src/test/resources/wifi_4326.txt', " +
        "delim='\t', header=true, quote='', all_varchar=true)"),

    // ids-only: score gaps (>=3e-4 on this data) dwarf any float-accumulation
    // noise between engines, so the ordering is stable
    "q_embed_topk" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id FROM embeddings, q " +
        "ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) DESC, " +
        "vec_id ASC LIMIT 10"),

    // the approximate-contract row: the Spark side measures delivered
    // recall of the learned-codebook IVF probe against the exact top-k
    // and reports whether it met the 0.70 floor; the oracle pins the
    // expected contract constants (recall_ge_floor = 1), so a recall
    // regression fails THIS row — the approximate gate is self-contained
    // in the correctness record
    "q_embed_topk_ivf" ->
      ("SELECT CAST(10 AS BIGINT) AS k, CAST(8 AS BIGINT) AS n_cells, " +
        "CAST(6 AS BIGINT) AS n_probe, CAST(700 AS BIGINT) AS recall_floor_permille, " +
        "CAST(1 AS BIGINT) AS recall_ge_floor"),

    // full IVF replay (deterministic-centroid twin): md5-ordered coarse
    // centroids, probe selection (cosine DESC, cidx ASC — the driver's
    // stable sort), argmax-cosine cell assignment with first-index
    // tie-break, exact cosine rerank over the probed cells only
    "q_embed_topk_ivf_det" ->
      ("WITH cent AS (SELECT embedding AS cv, row_number() OVER " +
        "(ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cidx " +
        "FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8), " +
        "q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0), " +
        "probes AS (SELECT cidx FROM (SELECT c.cidx, row_number() OVER " +
        "(ORDER BY list_cosine_similarity(q.qv, CAST(c.cv AS DOUBLE[])) DESC, " +
        "c.cidx ASC) AS rn FROM cent c CROSS JOIN q) WHERE rn <= 6), " +
        "cscored AS (SELECT e.vec_id, e.embedding, c.cidx, " +
        "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS cs " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "asg AS (SELECT vec_id, embedding, cidx FROM (SELECT vec_id, embedding, cidx, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cidx ASC) AS rn FROM cscored) " +
        "WHERE rn = 1), " +
        "src AS (SELECT a.vec_id, a.embedding FROM asg a JOIN probes p USING (cidx)) " +
        "SELECT vec_id FROM src CROSS JOIN q " +
        "ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) DESC, " +
        "vec_id ASC LIMIT 10"),

    // the seeded LSH (multiprobe + brute-force fallback) returns exactly the
    // exact top-10 at this sf — deterministic, so the exact oracle holds
    // (recall behavior is separately pinned by PipelineSpec)
    "q_embed_topk_lsh" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id FROM embeddings, q " +
        "ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) DESC, " +
        "vec_id ASC LIMIT 10"),

    // same IEEE expression tree as TextAnalysis.withQualityScore; DuckDB
    // len() is BIGINT so n_words casts down to Spark's int
    "q_text_quality" ->
      ("WITH f AS (SELECT doc_id, length(text) AS n_chars, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_words, " +
        "len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s.,;:!?''\"()-]')) AS n_symbol, " +
        "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for|on|are|with|as|at)\\b')) AS n_stop " +
        "FROM documents) " +
        "SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, " +
        "CAST(round(greatest(0.0, least(1.0, " +
        "0.4 * least(CAST(n_words AS DOUBLE) / 50.0, 1.0) " +
        "+ 0.3 * least((CAST(n_stop AS DOUBLE) / (CAST(n_words AS DOUBLE) + 1.0)) * 5.0, 1.0) " +
        "+ 0.3 * greatest(0.0, 1.0 - (CAST(n_symbol AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 1.0)) * 10.0)" +
        ")) * 1000) AS BIGINT) AS quality_milli FROM f"),

    // same integer cross-multiplication arithmetic as TextAnalysis.gopherRules,
    // over the same rebuilt fixture text
    "q_quality_rules" ->
      ("WITH fx AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' the cat is on the mat and it was here' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN repeat(chr(10) || '- item', 10) ELSE '' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'trail one...' || chr(10) || 'trail two...' ELSE '' END " +
        "AS text FROM documents), " +
        "f AS (SELECT doc_id, text, " +
        "regexp_split_to_array(trim(text), '\\s+') AS ws, " +
        "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls " +
        "FROM fx), " +
        "c AS (SELECT doc_id, " +
        "CAST(len(ws) AS BIGINT) AS n_words, " +
        "CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonws, " +
        "CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash, " +
        "CAST(len(regexp_extract_all(text, '\\.{3}|\u2026')) AS BIGINT) AS n_ell, " +
        "CAST(len(ls) AS BIGINT) AS n_lines, " +
        "CAST(len(list_filter(ls, x -> regexp_matches(x, '^[-*\u2022]'))) AS BIGINT) AS n_bullet, " +
        "CAST(len(list_filter(ls, x -> regexp_matches(x, '(\\.{3}|\u2026)$'))) AS BIGINT) AS n_ell_lines, " +
        "CAST(len(list_filter(ws, w -> regexp_matches(w, '[\\p{L}]'))) AS BIGINT) AS n_alpha_words, " +
        "CAST(len(list_distinct(regexp_extract_all(lower(text), " +
        "'\\b(the|and|of|to|in|is|that|it|was|for|on|are|with|as|at)\\b'))) AS BIGINT) AS n_stop " +
        "FROM f), " +
        "r AS (SELECT doc_id, n_words, n_lines, " +
        "CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_word_count, " +
        "CASE WHEN 3 * n_words <= n_nonws AND n_nonws <= 10 * n_words THEN 1 ELSE 0 END AS r_mean_word_len, " +
        "CASE WHEN 10 * (n_hash + n_ell) <= n_words THEN 1 ELSE 0 END AS r_symbol_ratio, " +
        "CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END AS r_bullet_lines, " +
        "CASE WHEN 10 * n_ell_lines <= 3 * n_lines THEN 1 ELSE 0 END AS r_ellipsis_lines, " +
        "CASE WHEN 5 * n_alpha_words >= 4 * n_words THEN 1 ELSE 0 END AS r_alpha_words, " +
        "CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stopwords FROM c) " +
        "SELECT doc_id, n_words, n_lines, " +
        "CAST(r_word_count AS BIGINT) AS r_word_count, " +
        "CAST(r_mean_word_len AS BIGINT) AS r_mean_word_len, " +
        "CAST(r_symbol_ratio AS BIGINT) AS r_symbol_ratio, " +
        "CAST(r_bullet_lines AS BIGINT) AS r_bullet_lines, " +
        "CAST(r_ellipsis_lines AS BIGINT) AS r_ellipsis_lines, " +
        "CAST(r_alpha_words AS BIGINT) AS r_alpha_words, " +
        "CAST(r_stopwords AS BIGINT) AS r_stopwords, " +
        "CAST(CASE WHEN r_word_count + r_mean_word_len + r_symbol_ratio + r_bullet_lines " +
        "+ r_ellipsis_lines + r_alpha_words + r_stopwords = 7 THEN 1 ELSE 0 END AS BIGINT) AS passes " +
        "FROM r"),

    // line-rule replay: rebuild the same fixture page, classify every line
    // with the identical integer/regex rules inside list_filter lambdas,
    // and re-derive counts + the cleaned-text md5 independently
    "q_boilerplate" ->
      ("WITH fx AS (SELECT doc_id, text || '.' || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Click here to subscribe' ELSE '' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Visit http://example.com/page for more details today.' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'BREAKING NEWS UPDATES EVERY HOUR TODAY.' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN chr(10) || chr(10) || 'This closing paragraph is long enough and it ends properly.' ELSE '' END " +
        "AS text FROM documents), " +
        "l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM fx), " +
        "k AS (SELECT doc_id, " +
        "list_filter(ls, x -> trim(x) <> '') AS nonblank, " +
        "list_filter(ls, x -> trim(x) <> '' AND " +
        "length(string_split_regex(trim(x), '\\s+')) >= 5 AND " +
        "regexp_matches(trim(x), '[.!?]$') AND " +
        "strpos(lower(x), 'http://') = 0 AND strpos(lower(x), 'https://') = 0 AND " +
        "2 * length(regexp_replace(x, '[^A-Z]', '', 'g')) <= length(regexp_replace(x, '[^A-Za-z]', '', 'g'))" +
        ") AS prose, " +
        "list_filter(ls, x -> trim(x) = '' OR (" +
        "length(string_split_regex(trim(x), '\\s+')) >= 5 AND " +
        "regexp_matches(trim(x), '[.!?]$') AND " +
        "strpos(lower(x), 'http://') = 0 AND strpos(lower(x), 'https://') = 0 AND " +
        "2 * length(regexp_replace(x, '[^A-Z]', '', 'g')) <= length(regexp_replace(x, '[^A-Za-z]', '', 'g'))" +
        ")) AS kept FROM l) " +
        "SELECT doc_id, " +
        "CAST(coalesce(len(nonblank), 0) AS BIGINT) AS n_lines, " +
        "CAST(coalesce(len(nonblank) - len(prose), 0) AS BIGINT) AS n_boiler, " +
        "md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5 FROM k"),

    "q_json_extract" ->
      ("SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events"),

    "q_date_trunc" ->
      ("SELECT CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_epoch, " +
        "count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY 1"),

    "q_stream_window" ->
      ("SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS window_epoch, event_type, " +
        "count(*) AS n, CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli " +
        "FROM events GROUP BY 1, 2"),

    // each event joins its 4 membership windows: start = floor-to-slide
    // minus j slides, kept while the event is inside the 1 h duration
    "q_stream_window_hop" ->
      ("WITH k AS (SELECT unnest(range(0, 4)) AS j), " +
        "e AS (SELECT epoch_us(ts) AS t, event_type, CAST(floor(value * 1000) AS BIGINT) AS vm " +
        "FROM events WHERE ts IS NOT NULL), " +
        "w AS (SELECT (t // 900000000) * 900000000 - j * 900000000 AS ws, event_type, vm, t " +
        "FROM e CROSS JOIN k) " +
        "SELECT ws // 1000000 AS window_epoch, event_type, count(*) AS n, " +
        "CAST(sum(vm) AS BIGINT) AS value_milli " +
        "FROM w WHERE t < ws + 3600000000 GROUP BY 1, 2"),

    "q_funnel" ->
      ("WITH ev AS (SELECT * FROM events WHERE value >= 80 AND ts IS NOT NULL), " +
        "base AS (SELECT DISTINCT user_id FROM ev WHERE event_type IN ('view','click','purchase')), " +
        "s1 AS (SELECT user_id, min(epoch_us(ts)) AS ts_1 FROM ev WHERE event_type = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS ts_2 FROM ev e JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.ts_1 GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS ts_3 FROM ev e JOIN s2 ON e.user_id = s2.user_id " +
        "WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.ts_2 GROUP BY 1) " +
        "SELECT base.user_id, CAST(CASE WHEN ts_1 IS NULL THEN 0 WHEN ts_2 IS NULL THEN 1 " +
        "WHEN ts_3 IS NULL THEN 2 ELSE 3 END AS BIGINT) AS stage, ts_1, ts_2, ts_3 " +
        "FROM base LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"),

    "q_funnel_window" ->
      ("WITH RECURSIVE ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, " +
        "CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS s, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn " +
        "FROM events WHERE value >= 80 AND ts IS NOT NULL AND event_type IN ('view','click','purchase')), " +
        "walk AS (SELECT user_id, rn, " +
        "CASE WHEN s = 0 THEN t ELSE CAST(-1 AS BIGINT) END AS dp0, " +
        "CAST(-1 AS BIGINT) AS dp1, CAST(-1 AS BIGINT) AS dp2, CAST(-1 AS BIGINT) AS conv " +
        "FROM ev WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT e.user_id, e.rn, " +
        "CASE WHEN e.s = 0 THEN greatest(w.dp0, e.t) ELSE w.dp0 END, " +
        "CASE WHEN e.s = 1 AND w.dp0 <> -1 AND e.t - w.dp0 <= 604800000000 THEN greatest(w.dp1, w.dp0) ELSE w.dp1 END, " +
        "CASE WHEN e.s = 2 AND w.dp1 <> -1 AND e.t - w.dp1 <= 604800000000 THEN greatest(w.dp2, w.dp1) ELSE w.dp2 END, " +
        "CASE WHEN w.conv = -1 AND e.s = 2 AND w.dp1 <> -1 AND e.t - w.dp1 <= 604800000000 THEN e.t ELSE w.conv END " +
        "FROM ev e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1) " +
        "SELECT user_id, CAST(CASE WHEN conv <> -1 THEN 1 ELSE 0 END AS BIGINT) AS converted, " +
        "CASE WHEN conv <> -1 THEN conv END AS conv_ts " +
        "FROM walk QUALIFY rn = max(rn) OVER (PARTITION BY user_id)"),

    "q_retention" ->
      ("WITH p AS (SELECT user_id, epoch_us(ts) // 259200000000 AS period FROM events WHERE value >= 75 AND ts IS NOT NULL), " +
        "a AS (SELECT DISTINCT user_id, period FROM p), " +
        "c AS (SELECT user_id, min(period) AS cohort FROM p GROUP BY 1) " +
        "SELECT c.cohort, a.period - c.cohort AS period_offset, count(*) AS n_users " +
        "FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2"),

    "q_gapfill" ->
      ("WITH pc AS (SELECT user_id, epoch_us(ts) // 86400000000 AS period, " +
        "count(*) AS n, CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli " +
        "FROM events WHERE value >= 75 AND ts IS NOT NULL GROUP BY 1, 2), " +
        "spans AS (SELECT user_id, min(period) AS lo, max(period) AS hi FROM pc GROUP BY 1), " +
        "spine AS (SELECT user_id, unnest(range(lo, hi + 1)) AS period FROM spans), " +
        "j AS (SELECT s.user_id, s.period, p.n, p.value_milli FROM spine s " +
        "LEFT JOIN pc p ON s.user_id = p.user_id AND s.period = p.period) " +
        "SELECT user_id, period, coalesce(n, 0) AS n, coalesce(value_milli, 0) AS value_milli, " +
        "last_value(value_milli IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY period " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_milli, " +
        "CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap FROM j"),

    "q_anomaly" ->
      ("WITH pc AS (SELECT user_id, epoch_us(ts) // 86400000000 AS period, " +
        "CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli " +
        "FROM events WHERE value >= 75 AND ts IS NOT NULL GROUP BY 1, 2), " +
        "spans AS (SELECT user_id, min(period) AS lo, max(period) AS hi FROM pc GROUP BY 1), " +
        "spine AS (SELECT user_id, unnest(range(lo, hi + 1)) AS period FROM spans), " +
        "series AS (SELECT s.user_id, s.period, coalesce(p.value_milli, 0) // 1000 AS x " +
        "FROM spine s LEFT JOIN pc p ON s.user_id = p.user_id AND s.period = p.period), " +
        "w AS (SELECT user_id, period, x, " +
        "CAST(count(*) OVER win AS BIGINT) AS n_window, " +
        "CAST(sum(x) OVER win AS BIGINT) AS s, " +
        "CAST(sum(x * x) OVER win AS BIGINT) AS s2 " +
        "FROM series WINDOW win AS (PARTITION BY user_id ORDER BY period " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) " +
        "SELECT user_id, period, x, n_window, " +
        "(n_window * x - s) * (n_window * x - s) AS dev2_scaled, " +
        "4 * (n_window * s2 - s * s) AS bound_scaled, " +
        "CAST(CASE WHEN n_window >= 4 AND (n_window * x - s) * (n_window * x - s) > " +
        "4 * (n_window * s2 - s * s) THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly FROM w"),

    "q_transitions" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events WHERE ts IS NOT NULL), " +
        "l AS (SELECT user_id, event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type FROM e), " +
        "p AS (SELECT prev_type, event_type, count(*) AS n FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, event_type, n, n * 1000 // CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS permille FROM p"),

    "q_throttle" ->
      ("WITH RECURSIVE ranked AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, " +
        "row_number() OVER (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS rn FROM events WHERE ts IS NOT NULL), " +
        "walk AS (SELECT user_id, event_type, event_id, ts_us, rn, ts_us AS last_kept, TRUE AS kept " +
        "FROM ranked WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT r.user_id, r.event_type, r.event_id, r.ts_us, r.rn, " +
        "CASE WHEN r.ts_us - w.last_kept >= 86400000000 THEN r.ts_us ELSE w.last_kept END AS last_kept, " +
        "(r.ts_us - w.last_kept >= 86400000000) AS kept " +
        "FROM ranked r JOIN walk w ON r.user_id = w.user_id AND r.event_type = w.event_type AND r.rn = w.rn + 1) " +
        "SELECT user_id, event_type, event_id, ts_us FROM walk WHERE kept"),

    "q_pagerank" ->
      ("WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        "e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes), " +
        "c1 AS (SELECT e.dst AS node, CAST(sum(r0.rank // d.outdeg) AS BIGINT) AS inflow " +
        "FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        "r1 AS (SELECT nodes.node, (150 * 1000000 + 850 * coalesce(c1.inflow, 0)) // 1000 AS rank " +
        "FROM nodes LEFT JOIN c1 USING (node)), " +
        "c2 AS (SELECT e.dst AS node, CAST(sum(r1.rank // d.outdeg) AS BIGINT) AS inflow " +
        "FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        "r2 AS (SELECT nodes.node, (150 * 1000000 + 850 * coalesce(c2.inflow, 0)) // 1000 AS rank " +
        "FROM nodes LEFT JOIN c2 USING (node)) " +
        "SELECT node, rank FROM r2"),

    // triangle replay: same affinity edges, then every x<y<z with all
    // three canonical edges present, counted per member node
    "q_triangles" ->
      ("WITH items AS (SELECT DISTINCT l.l_orderkey AS bkt, CAST(substr(p.p_brand, 7) AS BIGINT) AS i " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey), " +
        "nb AS (SELECT count(DISTINCT bkt) AS n FROM items), " +
        "pr AS (SELECT x.i AS a, y.i AS b, count(*) AS c FROM items x " +
        "JOIN items y ON x.bkt = y.bkt AND x.i < y.i GROUP BY 1, 2), " +
        "e AS (SELECT a, b FROM pr CROSS JOIN nb WHERE c * 10000 >= 220 * n), " +
        "t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 " +
        "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "m AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t) " +
        "SELECT node, count(*) AS n_triangles FROM m GROUP BY 1"),

    // same affinity edges + triangle lattice, joined with canonical
    // degrees into the integer-permille coefficient
    "q_clustering_coeff" ->
      ("WITH items AS (SELECT DISTINCT l.l_orderkey AS bkt, CAST(substr(p.p_brand, 7) AS BIGINT) AS i " +
        "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey), " +
        "nb AS (SELECT count(DISTINCT bkt) AS n FROM items), " +
        "pr AS (SELECT x.i AS a, y.i AS b, count(*) AS c FROM items x " +
        "JOIN items y ON x.bkt = y.bkt AND x.i < y.i GROUP BY 1, 2), " +
        "e AS (SELECT a, b FROM pr CROSS JOIN nb WHERE c * 10000 >= 220 * n), " +
        "t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 " +
        "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "m AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t), " +
        "t2 AS (SELECT node, count(*) AS nt FROM m GROUP BY 1), " +
        "dg AS (SELECT node, count(*) AS degree FROM " +
        "(SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1) " +
        "SELECT dg.node, dg.degree, CAST(coalesce(t2.nt, 0) AS BIGINT) AS n_triangles, " +
        "(2000 * CAST(coalesce(t2.nt, 0) AS BIGINT)) // (dg.degree * (dg.degree - 1)) AS coeff_permille " +
        "FROM dg LEFT JOIN t2 USING (node) WHERE dg.degree >= 2"),

    // the weighted unroll: per-pair summed quantities, (rank·w) // Σw
    // flow split, same damping blend — every step integer, replayed
    // bit-for-bit like the unweighted gate
    "q_pagerank_weighted" ->
      ("WITH e0 AS (SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey GROUP BY 1, 2), " +
        "e AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst AS src, src AS dst, w FROM e0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e GROUP BY 1), " +
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes), " +
        "c1 AS (SELECT e.dst AS node, CAST(sum((r0.rank * e.w) // d.wsum) AS BIGINT) AS inflow " +
        "FROM e JOIN r0 ON e.src = r0.node JOIN ws d ON e.src = d.src GROUP BY 1), " +
        "r1 AS (SELECT nodes.node, (150 * 1000000 + 850 * coalesce(c1.inflow, 0)) // 1000 AS rank " +
        "FROM nodes LEFT JOIN c1 USING (node)), " +
        "c2 AS (SELECT e.dst AS node, CAST(sum((r1.rank * e.w) // d.wsum) AS BIGINT) AS inflow " +
        "FROM e JOIN r1 ON e.src = r1.node JOIN ws d ON e.src = d.src GROUP BY 1), " +
        "r2 AS (SELECT nodes.node, (150 * 1000000 + 850 * coalesce(c2.inflow, 0)) // 1000 AS rank " +
        "FROM nodes LEFT JOIN c2 USING (node)) " +
        "SELECT node, rank FROM r2"),

    // the personalized unroll: identical to q_pagerank except the seed
    // flag gates BOTH the initial rank (scale·seed) and the teleport base
    // term ((1000−d)·scale·seed) — non-seed nodes start at 0 and receive
    // only damped inflow
    "q_pagerank_seeded" ->
      ("WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        "e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer " +
        "WHERE c_mktsegment = 'BUILDING'), " +
        "sn AS (SELECT nodes.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS seed " +
        "FROM nodes LEFT JOIN seeds s USING (node)), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "r0 AS (SELECT node, CAST(1000000 * seed AS BIGINT) AS rank FROM sn), " +
        "c1 AS (SELECT e.dst AS node, CAST(sum(r0.rank // d.outdeg) AS BIGINT) AS inflow " +
        "FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        "r1 AS (SELECT sn.node, sn.seed, " +
        "CAST((150 * 1000000 * sn.seed + 850 * coalesce(c1.inflow, 0)) // 1000 AS BIGINT) AS rank " +
        "FROM sn LEFT JOIN c1 USING (node)), " +
        "c2 AS (SELECT e.dst AS node, CAST(sum(r1.rank // d.outdeg) AS BIGINT) AS inflow " +
        "FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        "r2 AS (SELECT sn.node, " +
        "CAST((150 * 1000000 * sn.seed + 850 * coalesce(c2.inflow, 0)) // 1000 AS BIGINT) AS rank " +
        "FROM sn LEFT JOIN c2 USING (node)) " +
        "SELECT node, rank FROM r2"),

    // synchronous-LPA replay: canonical simple graph, adjacency = both
    // orientations + one self-vote per node; each round counts (node,
    // label) votes and takes the per-node argmax with the (count DESC,
    // label ASC) deterministic tie-break — 3 unrolled rounds
    "q_label_prop" ->
      (LpaCtes + " SELECT node, label AS community FROM l3"),

    // LPA replay + per-community rollup: canonical degrees summed per
    // community, intra edges = canonical edges whose endpoints share a
    // label
    "q_community_stats" ->
      (LpaCtes +
        ", deg AS (SELECT node, count(*) AS d FROM " +
        "(SELECT a AS node FROM canon UNION ALL SELECT b FROM canon) GROUP BY 1), " +
        "lab AS (SELECT node, label AS community FROM l3), " +
        "intra AS (SELECT la.community, count(*) AS ie FROM canon " +
        "JOIN lab la ON canon.a = la.node JOIN lab lb ON canon.b = lb.node " +
        "WHERE la.community = lb.community GROUP BY 1), " +
        "st AS (SELECT lab.community, CAST(count(*) AS BIGINT) AS n_nodes, " +
        "CAST(sum(deg.d) AS BIGINT) AS degree_sum " +
        "FROM lab JOIN deg ON lab.node = deg.node GROUP BY 1) " +
        "SELECT st.community, st.n_nodes, st.degree_sum, " +
        "CAST(coalesce(intra.ie, 0) AS BIGINT) AS intra_edges " +
        "FROM st LEFT JOIN intra USING (community)"),

    // same lattice folded to the single modularity number; the CASE pair
    // replicates Spark's truncate-toward-zero `div` (DuckDB's // floors,
    // which differs on the negative-numerator side)
    "q_modularity" ->
      (LpaCtes +
        ", deg AS (SELECT node, count(*) AS d FROM " +
        "(SELECT a AS node FROM canon UNION ALL SELECT b FROM canon) GROUP BY 1), " +
        "lab AS (SELECT node, label AS community FROM l3), " +
        "intra AS (SELECT la.community, count(*) AS ie FROM canon " +
        "JOIN lab la ON canon.a = la.node JOIN lab lb ON canon.b = lb.node " +
        "WHERE la.community = lb.community GROUP BY 1), " +
        "st AS (SELECT lab.community, CAST(sum(deg.d) AS BIGINT) AS ds, " +
        "CAST(coalesce(max(intra.ie), 0) AS BIGINT) AS ie " +
        "FROM lab JOIN deg ON lab.node = deg.node " +
        "LEFT JOIN intra ON lab.community = intra.community GROUP BY 1), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM canon), " +
        "num AS (SELECT CAST(coalesce(sum(4 * m.m_edges * st.ie - st.ds * st.ds), 0) AS BIGINT) AS v " +
        "FROM st CROSS JOIN m) " +
        "SELECT m.m_edges, CAST(CASE WHEN m.m_edges = 0 THEN 0 " +
        "WHEN num.v >= 0 THEN (1000 * num.v) // (4 * m.m_edges * m.m_edges) " +
        "ELSE -((-1000 * num.v) // (4 * m.m_edges * m.m_edges)) END AS BIGINT) AS q_permille " +
        "FROM m CROSS JOIN num"),

    // HITS replay: both half-steps of both rounds unrolled — inflow sum,
    // 1-row max frame, (raw·scale) // max normalize; every value is
    // non-negative so // equals Spark's truncating div throughout
    "q_hits" ->
      ("WITH e AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS x FROM nodes), " +
        "a1r AS (SELECT e.dst AS node, CAST(sum(h0.x) AS BIGINT) AS raw " +
        "FROM e JOIN h0 ON e.src = h0.node GROUP BY 1), " +
        "a1m AS (SELECT CAST(coalesce(max(raw), 0) AS BIGINT) AS m FROM a1r), " +
        "a1 AS (SELECT nodes.node, CASE WHEN a1m.m = 0 THEN 0 " +
        "ELSE (coalesce(a1r.raw, 0) * 1000000) // a1m.m END AS x " +
        "FROM nodes LEFT JOIN a1r USING (node) CROSS JOIN a1m), " +
        "h1r AS (SELECT e.src AS node, CAST(sum(a1.x) AS BIGINT) AS raw " +
        "FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1), " +
        "h1m AS (SELECT CAST(coalesce(max(raw), 0) AS BIGINT) AS m FROM h1r), " +
        "h1 AS (SELECT nodes.node, CASE WHEN h1m.m = 0 THEN 0 " +
        "ELSE (coalesce(h1r.raw, 0) * 1000000) // h1m.m END AS x " +
        "FROM nodes LEFT JOIN h1r USING (node) CROSS JOIN h1m), " +
        "a2r AS (SELECT e.dst AS node, CAST(sum(h1.x) AS BIGINT) AS raw " +
        "FROM e JOIN h1 ON e.src = h1.node GROUP BY 1), " +
        "a2m AS (SELECT CAST(coalesce(max(raw), 0) AS BIGINT) AS m FROM a2r), " +
        "a2 AS (SELECT nodes.node, CASE WHEN a2m.m = 0 THEN 0 " +
        "ELSE (coalesce(a2r.raw, 0) * 1000000) // a2m.m END AS x " +
        "FROM nodes LEFT JOIN a2r USING (node) CROSS JOIN a2m), " +
        "h2r AS (SELECT e.src AS node, CAST(sum(a2.x) AS BIGINT) AS raw " +
        "FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1), " +
        "h2m AS (SELECT CAST(coalesce(max(raw), 0) AS BIGINT) AS m FROM h2r), " +
        "h2 AS (SELECT nodes.node, CASE WHEN h2m.m = 0 THEN 0 " +
        "ELSE (coalesce(h2r.raw, 0) * 1000000) // h2m.m END AS x " +
        "FROM nodes LEFT JOIN h2r USING (node) CROSS JOIN h2m) " +
        "SELECT nodes.node, CAST(h2.x AS BIGINT) AS hub, CAST(a2.x AS BIGINT) AS auth " +
        "FROM nodes JOIN h2 USING (node) JOIN a2 USING (node)"),

    // KMV set-op replay: per-side bottom-64 distinct-hash samples, the
    // bottom-64 of their union, exact membership flags (X's members are
    // ≤ each side's k-th smallest, so sample membership IS set
    // membership), then the integer estimators
    "q_kmv_setops" ->
      ("WITH ha AS (SELECT DISTINCT l_suppkey, greatest(CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv " +
        "FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate < TIMESTAMP '1995-06-01'), " +
        "sa AS (SELECT l_suppkey, hv FROM (SELECT l_suppkey, hv, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY hv) AS rn FROM ha) WHERE rn <= 64), " +
        "hb AS (SELECT DISTINCT l_suppkey, greatest(CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv " +
        "FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate >= TIMESTAMP '1995-06-01'), " +
        "sb AS (SELECT l_suppkey, hv FROM (SELECT l_suppkey, hv, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY hv) AS rn FROM hb) WHERE rn <= 64), " +
        "uu AS (SELECT l_suppkey, hv FROM sa UNION SELECT l_suppkey, hv FROM sb), " +
        "x AS (SELECT l_suppkey, hv FROM (SELECT l_suppkey, hv, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY hv) AS rn FROM uu) WHERE rn <= 64), " +
        "fx AS (SELECT x.l_suppkey, CAST(count(*) AS BIGINT) AS nx, max(x.hv) AS hk, " +
        "CAST(sum(CASE WHEN a.hv IS NOT NULL AND b.hv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nboth " +
        "FROM x LEFT JOIN sa a ON x.l_suppkey = a.l_suppkey AND x.hv = a.hv " +
        "LEFT JOIN sb b ON x.l_suppkey = b.l_suppkey AND x.hv = b.hv GROUP BY 1), " +
        "ea AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n, max(hv) AS hk FROM sa GROUP BY 1), " +
        "eb AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n, max(hv) AS hk FROM sb GROUP BY 1), " +
        "f AS (SELECT fx.l_suppkey, " +
        "CAST(CASE WHEN ea.n < 64 THEN ea.n ELSE (63 * 4294967296) // ea.hk END AS BIGINT) AS est_a, " +
        "CAST(CASE WHEN eb.n < 64 THEN eb.n ELSE (63 * 4294967296) // eb.hk END AS BIGINT) AS est_b, " +
        "CAST(CASE WHEN fx.nx < 64 THEN fx.nx ELSE (63 * 4294967296) // fx.hk END AS BIGINT) AS est_union, " +
        "CAST((1000 * fx.nboth) // fx.nx AS BIGINT) AS jaccard_permille " +
        "FROM fx JOIN ea USING (l_suppkey) JOIN eb USING (l_suppkey)) " +
        "SELECT l_suppkey, est_a, est_b, est_union, jaccard_permille, " +
        "CAST((jaccard_permille * est_union) // 1000 AS BIGINT) AS est_intersect FROM f"),

    // CMS replay: the d=4 × w=256 counter table rebuilt from the same
    // md5('r:value') column hashes, then min-of-d cells per (group, item)
    // with missing cells reading 0
    "q_cms_counts" ->
      ("WITH rr AS (SELECT unnest(range(0, 4)) AS r), " +
        "cells AS (SELECT l_returnflag, r, " +
        "CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS c " +
        "FROM lineitem CROSS JOIN rr WHERE l_partkey IS NOT NULL), " +
        "cnt AS (SELECT l_returnflag, r, c, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2, 3), " +
        "items AS (SELECT DISTINCT p_partkey AS l_partkey FROM part WHERE p_brand = 'Brand#23'), " +
        "ic AS (SELECT l_partkey, r, " +
        "CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS c " +
        "FROM items CROSS JOIN rr), " +
        "grp AS (SELECT DISTINCT l_returnflag FROM lineitem) " +
        "SELECT g.l_returnflag, ic.l_partkey, CAST(min(coalesce(cnt.cnt, 0)) AS BIGINT) AS est_count " +
        "FROM grp g CROSS JOIN ic LEFT JOIN cnt ON cnt.l_returnflag = g.l_returnflag " +
        "AND cnt.r = ic.r AND cnt.c = ic.c GROUP BY 1, 2"),

    // containment replay: the same brute-force gram co-occurrence lattice
    // as the Jaccard oracles, thresholded on 1000·inter ≥ t·min(sz) and
    // emitting the integer permille
    "q_kcore" -> kcoreOracleSql(k = 4, iters = 4),

    // converged twin replays the SAME past-fixpoint unroll (peel depth
    // 2-3 at gate scales, idempotence makes rounds 3-4 no-ops): matching
    // it proves the operator's no-op detector stopped at the true core
    "q_kcore_conv" -> kcoreOracleSql(k = 4, iters = 4),

    "q_dedup_media" -> mediaDedupOracleSql,
    "q_dedup_media_h7" -> mediaDedupWideOracleSql,
    "q_dedup_media_incr" -> mediaIncrOracleSql,
    "q_dedup_media_clusters" -> mediaClustersOracleSql,

    "q_bfs_dist" -> bfsOracleSql(rounds = 4),
    "q_sssp" -> ssspOracleSql(rounds = 6),
    "q_mmr_rerank" -> mmrOracleSql(k = 5, topN = 12, lam = 700),
    "q_components" -> componentsOracleSql(rounds = 12),

    // converged gate vs the SAME past-fixpoint unroll: equality holds iff
    // the Σ-label stability check stopped exactly at the true fixpoint
    "q_components_conv" -> componentsOracleSql(rounds = 12),
    "q_temporal_reach" -> temporalOracleSql(rounds = 6),

    // same distinct edge set, same bit-length bucketing (bin() agrees
    // across engines on positive BIGINTs — the length-histogram idiom)
    "q_degree_dist" ->
      ("WITH e AS (SELECT DISTINCT o.o_custkey * 2 AS src, " +
        "l.l_suppkey * 2 + 1 AS dst " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "degs AS (SELECT 'out' AS direction, src AS node, count(*) AS deg FROM e GROUP BY 1, 2 " +
        "UNION ALL SELECT 'in' AS direction, dst AS node, count(*) AS deg FROM e GROUP BY 1, 2) " +
        "SELECT direction, CAST(length(bin(deg)) AS BIGINT) AS bucket, " +
        "count(*) AS n_nodes, CAST(min(deg) AS BIGINT) AS min_degree, " +
        "CAST(max(deg) AS BIGINT) AS max_degree " +
        "FROM degs GROUP BY 1, 2"),

    "q_random_walks" -> walksOracleSql(walksPerNode = 2, length = 3),
    "q_node2vec" -> node2vecOracleSql(walksPerNode = 2, length = 3,
      wRet = 500, wFar = 250),

    // wedge enumeration grouped by endpoints over the canonical simple
    // graph — the open complement of the triangle oracle's closure
    "q_common_nbrs" ->
      ("WITH e0 AS (SELECT DISTINCT least(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS a, " +
        "greatest(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "adj AS (SELECT a AS apex, b AS nbr FROM e0 UNION ALL SELECT b, a FROM e0), " +
        "dg AS (SELECT apex, count(*) AS d FROM adj GROUP BY 1), " +
        "w AS (SELECT x.nbr AS p, y.nbr AS q, " +
        "1000 // CAST(length(bin(dg.d)) - 1 AS BIGINT) AS aw FROM adj x " +
        "JOIN adj y ON x.apex = y.apex AND x.nbr < y.nbr " +
        "JOIN dg ON dg.apex = x.apex), " +
        "cn AS (SELECT p, q, count(*) AS n, sum(aw) AS aa FROM w GROUP BY 1, 2) " +
        "SELECT CAST(p AS BIGINT) AS a, CAST(q AS BIGINT) AS b, " +
        "CAST(n AS BIGINT) AS n_common, CAST(aa AS BIGINT) AS aa_permille, " +
        "CAST((1000 * n) // (da.d + db.d - n) AS BIGINT) AS jaccard_permille " +
        "FROM cn JOIN dg da ON da.apex = cn.p JOIN dg db ON db.apex = cn.q " +
        "WHERE n >= 3"),

    // decayed-count replay: the recursive CTE walks each key's period
    // chain from its first event day to the GLOBAL end day, applying the
    // identical truncating step ((s*900)//1000 + n — operands are
    // non-negative, so DuckDB's floor-// equals Spark's trunc-div)
    "q_decayed_counts" ->
      ("WITH RECURSIVE ev AS (SELECT event_type AS key, " +
        "epoch_us(ts) // 86400000000 AS p FROM events " +
        "WHERE event_type IS NOT NULL AND ts IS NOT NULL), " +
        "c AS (SELECT key, p, count(*) AS n FROM ev GROUP BY 1, 2), " +
        "lo AS (SELECT key, min(p) AS lo FROM c GROUP BY 1), " +
        "hi AS (SELECT max(p) AS hi FROM c), " +
        "r(key, p, s) AS (" +
        "SELECT c.key, c.p, c.n FROM c JOIN lo ON c.key = lo.key AND c.p = lo.lo " +
        "UNION ALL " +
        "SELECT r.key, r.p + 1, (r.s * 900) // 1000 + coalesce(c2.n, 0) " +
        "FROM r JOIN hi ON r.p < hi.hi " +
        "LEFT JOIN c c2 ON c2.key = r.key AND c2.p = r.p + 1) " +
        "SELECT r.key AS key, CAST(r.p AS BIGINT) AS period, " +
        "CAST(coalesce(c.n, 0) AS BIGINT) AS n, CAST(r.s AS BIGINT) AS decayed " +
        "FROM r LEFT JOIN c ON c.key = r.key AND c.p = r.p"),

    // collocation replay: same whitespace tokens, same staged truncating
    // divisions, same deterministic (lift, count, words) order
    "q_collocations" ->
      ("WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "uni AS (SELECT unnest(t) AS w FROM toks), " +
        "uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni), " +
        "big AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM toks, " +
        "unnest(range(1, length(t))) AS u(i)), " +
        "bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy " +
        "FROM big GROUP BY 1, 2 HAVING count(*) >= 5) " +
        "SELECT w1, w2, c_xy, " +
        "CAST((((1000 * n.n) // x.c) * c_xy) // y.c AS BIGINT) AS lift_permille " +
        "FROM bc JOIN uc x ON bc.w1 = x.w CROSS JOIN n JOIN uc y ON bc.w2 = y.w " +
        "ORDER BY lift_permille DESC, c_xy DESC, w1, w2 LIMIT 100"),

    // exact-selection replay: the k-th element is rank arithmetic over
    // the sorted column — row_number ties are irrelevant to the VALUE
    "q_kth_value" ->
      ("WITH t AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn, " +
        "count(*) OVER () AS n FROM t) " +
        "SELECT 'p25' AS q, CAST((n + 3) // 4 AS BIGINT) AS k, " +
        "CAST(cents AS BIGINT) AS value FROM r WHERE rn = (n + 3) // 4 " +
        "UNION ALL SELECT 'p50', CAST((n + 1) // 2 AS BIGINT), " +
        "CAST(cents AS BIGINT) FROM r WHERE rn = (n + 1) // 2 " +
        "UNION ALL SELECT 'p75', CAST((3 * n + 3) // 4 AS BIGINT), " +
        "CAST(cents AS BIGINT) FROM r WHERE rn = (3 * n + 3) // 4"),

    // same planted tail, same ceil-median ranks located by row_number,
    // same integer cross-multiplied modified-z rule
    "q_mad" ->
      ("WITH t AS (SELECT CAST(n_chars AS BIGINT) + " +
        "CASE WHEN doc_id % 97 = 0 THEN 5000 ELSE 0 END AS len " +
        "FROM documents WHERE n_chars IS NOT NULL), " +
        "r AS (SELECT len, row_number() OVER (ORDER BY len) AS rn, " +
        "count(*) OVER () AS n FROM t), " +
        "m AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN len END) AS med FROM r), " +
        "r2 AS (SELECT dev, row_number() OVER (ORDER BY dev) AS rn, " +
        "count(*) OVER () AS n FROM (SELECT abs(len - m.med) AS dev FROM t, m)), " +
        "m2 AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad FROM r2) " +
        "SELECT count(*) AS n, " +
        "CAST(sum(CASE WHEN abs(len - m.med) * 6745 > 35000 * m2.mad " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "CAST(max(abs(len - m.med)) AS BIGINT) AS max_abs_dev, " +
        "CAST(max(m.med) AS BIGINT) AS median_len, " +
        "CAST(max(m2.mad) AS BIGINT) AS mad_len " +
        "FROM t, m, m2"),

    // same ceil-rank bound location (row_number is unique so the CASE
    // picks exactly one row per bound), same clip arithmetic
    "q_winsorize" ->
      ("WITH t AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn, " +
        "count(*) OVER () AS n FROM t), " +
        "b AS (SELECT max(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo, " +
        "max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS hi FROM r) " +
        "SELECT count(*) AS n, " +
        "CAST(sum(CASE WHEN cents < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low, " +
        "CAST(sum(CASE WHEN cents > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high, " +
        "CAST(sum(greatest(least(cents, b.hi), b.lo)) AS BIGINT) AS winsorized_sum_cents, " +
        "CAST(max(b.lo) AS BIGINT) AS p05_cents, " +
        "CAST(max(b.hi) AS BIGINT) AS p95_cents " +
        "FROM t CROSS JOIN b"),

    // session replay: classic island detection — a break where the gap to
    // the previous event is STRICTLY > 30 min (Spark merges sessions
    // while next.start <= current.end, so an exact-gap event still
    // merges), then min/max + gap per island
    "q_stream_session" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t, " +
        "CAST(floor(value * 1000) AS BIGINT) AS vm FROM events WHERE ts IS NOT NULL), " +
        "m AS (SELECT user_id, t, vm, CASE WHEN lag(t) OVER w IS NULL " +
        "OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)), " +
        "s AS (SELECT user_id, t, vm, sum(brk) OVER " +
        "(PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT CAST(min(t) AS BIGINT) AS session_start_us, " +
        "CAST(max(t) + 1800000000 AS BIGINT) AS session_end_us, " +
        "user_id, count(*) AS n, CAST(sum(vm) AS BIGINT) AS value_milli " +
        "FROM s GROUP BY user_id, sid"),

    // outer interval-join replay: ordinary SQL left join — the streaming
    // path adds only WHEN the null row emits, not WHETHER
    "q_stream_outer_join" ->
      ("WITH e AS (SELECT event_id AS error_id, user_id, ts FROM events " +
        "WHERE event_type = 'error'), " +
        "c AS (SELECT event_id AS click_id, user_id, ts FROM events " +
        "WHERE event_type = 'click') " +
        "SELECT e.error_id, c.click_id, e.user_id FROM e LEFT JOIN c " +
        "ON e.user_id = c.user_id AND c.ts <= e.ts " +
        "AND c.ts >= e.ts - INTERVAL 10 MINUTE"),

    // interval-merge replay: the classic sweep — running max of prior
    // ends (1-PRECEDING frame), break where start strictly exceeds it
    // (touching merges), island prefix sum, min/max/count per island
    "q_interval_merge" ->
      ("WITH iv AS (SELECT user_id, epoch_us(ts) AS s, " +
        "epoch_us(ts) + ((CAST(floor(value * 1000) AS BIGINT) % 900 + 900) * 1000000) AS e " +
        "FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL), " +
        "m AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id ORDER BY s, e " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv), " +
        "b AS (SELECT user_id, s, e, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS brk FROM m), " +
        "i AS (SELECT user_id, s, e, sum(brk) OVER (PARTITION BY user_id ORDER BY s, e " +
        "ROWS UNBOUNDED PRECEDING) AS island FROM b) " +
        "SELECT user_id, CAST(min(s) AS BIGINT) AS \"start\", " +
        "CAST(max(e) AS BIGINT) AS \"end\", count(*) AS n_merged " +
        "FROM i GROUP BY user_id, island"),

    // SCD2-lookup replay: rebuild the history, then pick per event the
    // version with max (valid_from, version_n) among valid_from <= ts
    "q_scd2_lookup" ->
      ("WITH e0 AS (SELECT user_id, epoch_us(ts) AS t, event_type AS a " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "m AS (SELECT user_id, t, a, row_number() OVER w AS rn, lag(a) OVER w AS pa " +
        "FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY t, a)), " +
        "c AS (SELECT user_id, t, a FROM m WHERE rn = 1 OR (a IS DISTINCT FROM pa)), " +
        "h AS (SELECT user_id, a, t AS vf, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY t, a) AS version_n FROM c), " +
        "ev AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "j AS (SELECT ev.event_id, ev.user_id, ev.t, h.a, h.version_n, " +
        "row_number() OVER (PARTITION BY ev.event_id ORDER BY h.vf DESC, h.version_n DESC) AS rn " +
        "FROM ev JOIN h ON ev.user_id = h.user_id AND h.vf <= ev.t) " +
        "SELECT event_id, user_id, CAST(t AS BIGINT) AS ts_us, " +
        "a AS event_type_version, CAST(version_n AS BIGINT) AS version_n " +
        "FROM j WHERE rn = 1"),

    // SCD2 replay: run starts = rows whose attribute differs (null-safe)
    // from the previous observation in (ts, attr) order; lead() over the
    // survivors yields valid_to; version_n re-ranks the survivors
    "q_scd2" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS a " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "m AS (SELECT user_id, t, a, " +
        "row_number() OVER w AS rn, lag(a) OVER w AS pa " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, a)), " +
        "c AS (SELECT user_id, t, a FROM m WHERE rn = 1 OR (a IS DISTINCT FROM pa)) " +
        "SELECT user_id, a AS event_type, CAST(t AS BIGINT) AS valid_from_us, " +
        "CAST(lead(t) OVER w AS BIGINT) AS valid_to_us, " +
        "CAST(row_number() OVER w AS BIGINT) AS version_n " +
        "FROM c WINDOW w AS (PARTITION BY user_id ORDER BY t, a)"),

    // short-text convention mirrored from TextCore.shingleHashes: texts of
    // length 1..8 contribute ONE whole-doc gram (length 0/NULL → none)
    "q_dedup_containment" ->
      ("WITH g AS (SELECT doc_id, unnest(list_distinct(" +
        "CASE WHEN length(text) >= 1 AND length(text) < 9 THEN [text] " +
        "WHEN length(text) >= 9 THEN list_transform(" +
        "range(1, length(text)-7), i -> substr(text, i, 9)) ELSE NULL END)) AS gram FROM documents), " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id), " +
        "co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST((1000 * inter) // least(sa.sz, sb.sz) AS BIGINT) AS containment_permille " +
        "FROM co JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE 1000 * inter >= 800 * least(sa.sz, sb.sz)"),

    "q_rrf" ->
      ("WITH " + Bm25OracleCtes + ", " +
        "ra AS (SELECT doc_id, r FROM (SELECT doc_id, " +
        "CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS r FROM g) WHERE r <= 20), " +
        "qraw AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0), " +
        "q AS (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS mq FROM qraw), " +
        "qc AS (SELECT mq, CASE WHEN mq = 0 THEN list_transform(qv, x -> CAST(0 AS BIGINT)) " +
        "ELSE list_transform(qv, x -> CAST(floor(x * 127.0 / mq + 0.5) AS BIGINT)) END AS c FROM q), " +
        "enc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
        "list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m FROM embeddings), " +
        "codes AS (SELECT vec_id, m, CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT)) " +
        "ELSE list_transform(v, x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT)) END AS c FROM enc), " +
        "sq AS (SELECT codes.vec_id, " +
        "((list_inner_product(CAST(codes.c AS DOUBLE[]), CAST(qc.c AS DOUBLE[])) * codes.m) * qc.mq) / 16129.0 AS sqs " +
        "FROM codes CROSS JOIN qc), " +
        "rb AS (SELECT doc_id, r FROM (SELECT vec_id AS doc_id, " +
        "CAST(row_number() OVER (ORDER BY sqs DESC, vec_id ASC) AS BIGINT) AS r FROM sq) WHERE r <= 20), " +
        "u AS (SELECT doc_id, r FROM ra UNION ALL SELECT doc_id, r FROM rb) " +
        "SELECT doc_id, count(*) AS n_lists, " +
        "CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_score FROM u GROUP BY 1"),

    "q_assoc_pairs" ->
      ("WITH items0 AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem " +
        "WHERE l_partkey IS NOT NULL AND l_orderkey IS NOT NULL), " +
        "sz AS (SELECT b, count(*) AS s FROM items0 GROUP BY 1), " +
        "items AS (SELECT items0.b, items0.i FROM items0 JOIN sz ON items0.b = sz.b AND sz.s <= 1000), " +
        "nb AS (SELECT count(*) AS n_baskets FROM sz WHERE s <= 1000), " +
        "p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_ab FROM items x " +
        "JOIN items y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "c AS (SELECT i, count(*) AS n FROM items GROUP BY 1) " +
        "SELECT p.item_a, p.item_b, p.n_ab, ca.n AS n_a, cb.n AS n_b, " +
        "p.n_ab * 1000 // ca.n AS conf_ab_permille, " +
        "p.n_ab * 1000 // cb.n AS conf_ba_permille, " +
        "p.n_ab * nb.n_baskets * 1000 // (ca.n * cb.n) AS lift_permille " +
        "FROM p JOIN c ca ON p.item_a = ca.i JOIN c cb ON p.item_b = cb.i CROSS JOIN nb"),

    // full lattice replay: all within-basket triples (DuckDB affords the
    // unpruned Σ size³ enumeration at gate scale; the Spark side's
    // frequent-pair prune removes only sub-threshold candidates, so the
    // surviving sets are identical), same total-order top-k cut
    "q_assoc_triples" ->
      ("WITH items0 AS (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i FROM lineitem l " +
        "JOIN part p ON l.l_partkey = p.p_partkey " +
        "WHERE p.p_brand IS NOT NULL AND l.l_orderkey IS NOT NULL), " +
        "sz AS (SELECT b, count(*) AS s FROM items0 GROUP BY 1), " +
        "items AS (SELECT items0.b, items0.i FROM items0 JOIN sz ON items0.b = sz.b AND sz.s <= 1000), " +
        "p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_pair FROM items x " +
        "JOIN items y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "t AS (SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c, count(*) AS n_abc " +
        "FROM items x JOIN items y ON x.b = y.b AND x.i < y.i " +
        "JOIN items z ON y.b = z.b AND y.i < z.i " +
        "GROUP BY 1, 2, 3 HAVING count(*) >= 2), " +
        "k AS (SELECT * FROM t ORDER BY n_abc DESC, item_a, item_b, item_c LIMIT 300) " +
        "SELECT k.item_a, k.item_b, k.item_c, k.n_abc, " +
        "ab.n_pair AS n_ab, ac.n_pair AS n_ac, bc.n_pair AS n_bc, " +
        "k.n_abc * 1000 // ab.n_pair AS conf_ab_c_permille, " +
        "k.n_abc * 1000 // ac.n_pair AS conf_ac_b_permille, " +
        "k.n_abc * 1000 // bc.n_pair AS conf_bc_a_permille " +
        "FROM k JOIN p ab ON k.item_a = ab.item_a AND k.item_b = ab.item_b " +
        "JOIN p ac ON k.item_a = ac.item_a AND k.item_c = ac.item_b " +
        "JOIN p bc ON k.item_b = bc.item_a AND k.item_c = bc.item_b"),

    "q_distinct_kmv" ->
      ("WITH h AS (SELECT DISTINCT l_suppkey, greatest(CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv " +
        "FROM lineitem WHERE l_partkey IS NOT NULL), " +
        "r AS (SELECT l_suppkey, hv, row_number() OVER (PARTITION BY l_suppkey ORDER BY hv) AS rn FROM h), " +
        "kk AS (SELECT l_suppkey, count(*) AS n_kept, max(CASE WHEN rn = 64 THEN hv END) AS hk " +
        "FROM r WHERE rn <= 64 GROUP BY 1) " +
        "SELECT l_suppkey, n_kept, CASE WHEN n_kept < 64 THEN n_kept " +
        "ELSE (63 * 4294967296) // hk END AS est_distinct FROM kk"),

    // full sample replay: same md5(row_id) 32-bit hash (0→1), the k=64
    // (hv, v)-lexicographic minimum rows per group, sorted sample, exact
    // lower-quantile indexing — identical integer arithmetic end to end
    "q_quantile_sketch" ->
      ("WITH r AS (SELECT l_suppkey, " +
        "greatest(CAST('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL), " +
        "s AS (SELECT l_suppkey, v FROM (SELECT l_suppkey, hv, v, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY hv, v) AS rn FROM r) WHERE rn <= 64), " +
        "g AS (SELECT l_suppkey, list_sort(list(v)) AS vals FROM s GROUP BY 1) " +
        "SELECT l_suppkey, CAST(len(vals) AS BIGINT) AS n_sample, " +
        "vals[CAST((100 * (len(vals) - 1)) // 1000 AS INTEGER) + 1] AS q100, " +
        "vals[CAST((500 * (len(vals) - 1)) // 1000 AS INTEGER) + 1] AS q500, " +
        "vals[CAST((900 * (len(vals) - 1)) // 1000 AS INTEGER) + 1] AS q900 FROM g"),

    // full register replay: same 32-bit hash (0→1), top-6-bit register
    // index, leading-zero rank via length(bin(w)) — identical in both
    // engines — and the exact integer-scaled harmonic mean
    "q_distinct_hll" ->
      ("WITH h AS (SELECT DISTINCT l_suppkey, greatest(CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv " +
        "FROM lineitem WHERE l_partkey IS NOT NULL), " +
        "r AS (SELECT l_suppkey, hv // 67108864 AS j, hv % 67108864 AS w FROM h), " +
        "reg AS (SELECT l_suppkey, j, max(CASE WHEN w = 0 THEN 27 ELSE 26 - length(bin(w)) + 1 END) AS m FROM r GROUP BY 1, 2), " +
        "g AS (SELECT l_suppkey, count(*) AS n_hit, sum(CAST(1 AS BIGINT) << CAST(32 - m AS INTEGER)) AS sp FROM reg GROUP BY 1) " +
        "SELECT l_suppkey, n_hit, CAST((709 * 4096 * 4294967296) // " +
        "(1000 * (sp + (64 - n_hit) * 4294967296)) AS BIGINT) AS est_distinct FROM g"),

    "q_sessionize" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms FROM events), " +
        "g AS (SELECT user_id, event_id, ts_ms, " +
        "CASE WHEN lag(ts_ms) OVER w IS NULL OR ts_ms - lag(ts_ms) OVER w > 3600000 " +
        "THEN 1 ELSE 0 END AS new_session FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC)), " +
        "si AS (SELECT user_id, ts_ms, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM g) " +
        "SELECT user_id, session_idx, count(*) AS n_events, min(ts_ms) AS first_ts, max(ts_ms) AS last_ts " +
        "FROM si GROUP BY user_id, session_idx")
  )
}
