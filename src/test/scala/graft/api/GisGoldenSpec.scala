package graft.api

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Golden parity tests: same fixtures, same queries, same expected values as
 * the reference's JUnit suite (reference: src/test/java/tech/stackable/gis/
 * hbase/filter/TestWithinFilter.java, coprocessor/TestKNN.java,
 * coprocessor/TestTopX.java, filter/TestBulkIngest.java).
 */
class GisGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val TaxiPath =
    s"${graft.gates.Fixtures.ReferenceDir}/src/test/resources/yellow_tripdata_2021-07.csv"

  lazy val wifi: DataFrame = Gis.ingestTsv(spark, graft.gates.Fixtures.WifiTsv).cache()

  /** Seeded points over the wifi fixture's Manhattan extent: a stand-in for
    * the fixture in tests that assert a differential, not a reference number. */
  private lazy val manhattan: DataFrame =
    Gis.bulkIngest(spark, 5000, -74.02, -73.93, 40.70, 40.80, seed = 13).cache()

  /** The sf0.001 events with epoch-ms `ts_ms`, for the top-X differentials. */
  private lazy val events: DataFrame =
    graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))

  // Midtown 5-pt polygon (TestWithinFilter.java:72-76; README.md:56-60)
  private val Midtown =
    "POLYGON ((-73.980844 40.758703, -73.987214 40.761369, " +
      "-73.990839 40.756400, -73.984422 40.753642, -73.980844 40.758703))"
  // Reduced 4-pt polygon (TestWithinFilter.java:89-92)
  private val Reduced =
    "POLYGON ((-73.980844 40.758703, -73.987214 40.761369, " +
      "-73.984422 40.753642, -73.980844 40.758703))"

  test("wifi ingest dedups 1,249 raw rows to WIFI_COUNT=1,224 on geohash-12") {
    assert(wifi.count() == 1224) // AbstractTestUtil.java:70-91
  }

  test("within: Midtown polygon matches 26 points") {
    assert(Gis.within(wifi, Midtown).count() == 26) // TestWithinFilter.java:82
  }

  test("within: reduced polygon matches 10 points") {
    assert(Gis.within(wifi, Reduced).count() == 10) // TestWithinFilter.java:98
  }

  test("within: pruning on == pruning off (differential oracle)") {
    for (poly <- Seq(Midtown, Reduced)) {
      val pruned = Gis.within(manhattan, poly).select("id").collect().map(_.getString(0)).sorted
      val full = Gis.within(manhattan, poly, prune = false).select("id").collect().map(_.getString(0)).sorted
      assert(full.nonEmpty, s"no seeded point inside $poly")
      assert(pruned.sameElements(full))
    }
  }

  test("within: boundary-inclusive covers on y=x line (2 then 3 points)") {
    // TestWithinFilter.java:101-135 — fixture: 10 points (i, i), i=1..10.
    val line = (1 to 10).map(i => (i.toDouble, i.toDouble)).toDF("lon", "lat")
    val r1 = "POLYGON ((0.0 0.0, 0.0 2.999, 2.999 2.999, 2.999 0.0, 0.0 0.0))"
    assert(Gis.within(line, r1).count() == 2)
    val r2 = "POLYGON ((0.0 0.0, 0.0 3.0, 3.0 3.0, 3.0 0.0, 0.0 0.0))"
    assert(Gis.within(line, r2).count() == 3)
  }

  test("knn: top-10 distances equal brute-force (TestKNN.java:87-106)") {
    // Sensible origin: Midtown point (lon, lat) = (-73.97000655, 40.76098703).
    val k = 10
    val got = Gis.knn(wifi, lon = -73.97000655, lat = 40.76098703, k = k)
      .select("distance").collect().map(_.getDouble(0)).sorted
    val brute = wifi.select("lon", "lat").collect()
      .map(r => graft.geo.Geom.euclidean(r.getDouble(0), r.getDouble(1), -73.97000655, 40.76098703))
      .sorted.take(k)
    assert(got.length == k)
    assert(got.zip(brute).forall { case (a, b) => a == b })
  }

  test("knn: reference's swapped origin still equals brute force via widening") {
    // The reference test passes (x=40.76098703, y=-73.97000655) — its lat/lon
    // variable names are swapped (TestKNN.java:69-70,91). That origin is far
    // from the data's geohash cells, so every candidate ring is empty and
    // our non-strict mode widens to an exact full scan. Seeded points over
    // the fixture's Manhattan extent stand in for the fixture here: the
    // assertion is a differential, not a reference number.
    val k = 10
    val pts = Gis.bulkIngest(spark, 2000, -74.02, -73.93, 40.70, 40.80, seed = 13)
    val got = Gis.knn(pts, lon = 40.76098703, lat = -73.97000655, k = k)
      .select("distance").collect().map(_.getDouble(0)).sorted
    val brute = pts.select("lon", "lat").collect()
      .map(r => graft.geo.Geom.euclidean(r.getDouble(0), r.getDouble(1), 40.76098703, -73.97000655))
      .sorted.take(k)
    assert(got.length == k)
    assert(got.zip(brute).forall { case (a, b) => a == b })
  }

  test("knn: strict parity mode returns only 9-cell candidates") {
    val strict = Gis.knn(wifi, lon = -73.97000655, lat = 40.76098703, k = 10, strict = true)
    val prefixes = graft.geo.GeohashPruning.knnPrefixes(-73.97000655, 40.76098703)
    val hashes = strict.select("geohash").collect().map(_.getString(0))
    assert(hashes.forall(h => prefixes.exists(h.startsWith)))
  }

  lazy val taxi: DataFrame = {
    // Load-time schema per TestTopX.java:45-48,96-108: positional rename,
    // ts strings → epoch millis, rowkey = pu_ts|do_ts, dedup on rowkey.
    val names = Seq("vendor_id", "pu_ts", "do_ts", "p_count", "trip", "ratecode_id",
      "flag", "pu_id", "do_id", "payment_type", "fare_amount", "extra", "mta_tax",
      "tip_amount", "tolls_amount", "imp_surcharge", "total_amount", "cong_surcharge")
    spark.read.option("header", "true").csv(TaxiPath)
      .toDF(names: _*)
      .withColumn("pu_ts", (unix_timestamp($"pu_ts", "yyyy-MM-dd HH:mm:ss") * 1000).cast("long"))
      .withColumn("do_ts", (unix_timestamp($"do_ts", "yyyy-MM-dd HH:mm:ss") * 1000).cast("long"))
      .withColumn("pu_id", $"pu_id".cast("int"))
      .withColumn("rowkey", concat_ws("|", $"pu_ts", $"do_ts"))
      .dropDuplicates("rowkey")
      .cache()
  }

  test("taxi ingest dedups 4,999 rows to TRIP_COUNT=4,955 unique ts-pairs") {
    assert(taxi.count() == 4955) // TestTopX.java:97-99
  }

  test("topX: n=2 earliest per pu_id yields 207 candidates") {
    assert(Gis.topX(taxi, "pu_id", "pu_ts", 2).count() == 207) // TestTopX.java:136-138
  }

  test("topX: n=TRIP_COUNT keeps all 4,955 rows") {
    assert(Gis.topX(taxi, "pu_id", "pu_ts", 4955).count() == 4955) // TestTopX.java:141-143
  }

  test("topX: pu_id=68 holds 141 rows in the n=TRIP_COUNT run") {
    val all = Gis.topX(taxi, "pu_id", "pu_ts", 4955)
    assert(all.filter($"pu_id" === 68).count() == 141) // TestTopX.java:146-152
  }

  test("topX: bounded-heap variant matches window variant per group") {
    val ds = events.select($"user_id", $"ts_ms").as[(Long, Long)]
    val bounded = Gis.topXBounded[(Long, Long)](ds, t => t._1.toString, _._2, 2)
    // same multiset of (group, ts)
    val a = bounded.collect().sorted
    val b = Gis.topX(events, "user_id", "ts_ms", 2)
      .select($"user_id", $"ts_ms").as[(Long, Long)].collect().sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("topXAgg (bounded-heap aggregate) == window topX on events") {
    val win = Gis.topX(events, "user_id", "ts_ms", 3, tieBreak = Seq("event_id"))
      .select($"user_id", $"ts_ms", $"event_id").as[(Long, Long, Long)].collect().sorted
    val agg = Gis.topXAgg(events, "user_id", "ts_ms", "event_id", 3)
      .select($"user_id", $"ts_ms", $"event_id").as[(Long, Long, Long)].collect().sorted
    assert(win.nonEmpty && agg.sameElements(win))
    // plan shape: partial + final aggregation, no window sort
    val p = Gis.topXAgg(events, "user_id", "ts_ms", "event_id", 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_topn_by_ord"), s"no map-side partial heap:\n$p")
    assert(!p.contains("Window"), s"unexpected window operator:\n$p")
  }

  test("distanceJoin == brute-force cross join filter (differential oracle)") {
    val a = Gis.bulkIngest(spark, 300, -76, -75, 44, 45, seed = 11)
      .select($"id".as("ida"), $"lon", $"lat")
    val b = Gis.bulkIngest(spark, 200, -76.2, -74.8, 43.8, 45.2, seed = 12)
      .select($"id".as("idb"), $"lon", $"lat")
    val r = 0.05
    val got = graft.api.SpatialJoin.distanceJoin(a, b, r)
      .select($"a_ida", $"b_idb").as[(String, String)].collect().toSet
    val brute = a.crossJoin(b.select($"idb", $"lon".as("lon2"), $"lat".as("lat2")))
      .filter(($"lon" - $"lon2") * ($"lon" - $"lon2") +
        ($"lat" - $"lat2") * ($"lat" - $"lat2") <= r * r)
      .select($"ida", $"idb").as[(String, String)].collect().toSet
    assert(brute.nonEmpty, "fixture produced no pairs")
    assert(got == brute)
  }

  test("within: prune-on == prune-off for a query exactly on geohash cell edges") {
    // integration twin of the PruneEdgeRegressionSpec planner fix: a rect
    // whose east edge sits exactly on lon = 0.0 (a bisection edge at every
    // precision) with points planted exactly ON that edge — the old
    // closed-hull prefix test dropped them
    val pts = Gis.bulkIngest(spark, 400, -0.9, -0.05, -3.6, -2.9, seed = 21)
      .select("id", "lon", "lat")
      .unionByName(spark.range(5).selectExpr("concat('edge', id) AS id",
        "0.0 AS lon", "-3.0 - CAST(id AS DOUBLE)/50 AS lat"))
      .withColumn("geohash",
        graft.sql.functions.geohash_encode(col("lat"), col("lon"), 12))
    val wkt = "POLYGON ((-0.9 -3.6, -0.9 -2.9, 0.0 -2.9, 0.0 -3.6, -0.9 -3.6))"
    val pruned = Gis.within(pts, wkt).select("id").collect().map(_.getString(0)).sorted
    val full = Gis.within(pts, wkt, prune = false).select("id").collect().map(_.getString(0)).sorted
    assert(pruned.sameElements(full),
      s"pruning dropped rows: full=${full.length} pruned=${pruned.length}")
    // the planted on-edge points are inside the polygon (covers is
    // boundary-inclusive) and must survive the pruned path
    (0 until 5).foreach(i => assert(pruned.contains(s"edge$i"), s"edge$i missing"))
  }

  test("bulkIngest: 1,000 bbox points all pass the bbox polygon filter") {
    // TestBulkIngest.java:44-79
    val pts = Gis.bulkIngest(spark, 1000, -75.99, -75.01, 44.01, 44.99, seed = 7)
    assert(pts.count() == 1000)
    val bbox = "POLYGON ((-76.0 44.0, -76.0 45.0, -75.0 45.0, -75.0 44.0, -76.0 44.0))"
    assert(Gis.within(pts, bbox).count() == 1000)
  }

  test("bulkIngest is partition-stable: identical dataset at any parallelism") {
    // every column derives from hash(id, seed), never per-partition rand —
    // the same seed must produce the same rows at 3 and 17 partitions
    def snap(np: Int): Set[String] =
      Gis.bulkIngest(spark, 500, -75.99, -75.01, 44.01, 44.99, seed = 7,
          numPartitions = np)
        .select(concat_ws("|", $"id", $"geohash", $"name", $"zip"))
        .as[String].collect().toSet
    val a = snap(3)
    assert(a.size == 500 && a == snap(17))
  }

  test("geohash column matches reference rowkey derivation for first wifi row") {
    val row = wifi.filter($"id" === "882").select("geohash", "lon", "lat").head()
    assert(row.getString(0) == graft.geo.Geohash.encode(row.getDouble(2), row.getDouble(1), 12))
    assert(row.getString(0).length == 12)
  }

  test("knnJoinAgg (bounded heap) == knnJoin (window) on random point sets") {
    val a = Gis.bulkIngest(spark, 250, -76, -75, 44, 45, seed = 21)
      .select($"id".cast("long").as("ida"), $"lon", $"lat")
    val b = Gis.bulkIngest(spark, 400, -76.2, -74.8, 43.8, 45.2, seed = 22)
      .select($"id".cast("long").as("idb"), $"lon", $"lat")
    val win = graft.api.SpatialJoin.knnJoin(a, b, k = 3, radius = 0.2,
        aKeyCol = "ida", tieBreak = Seq("b_idb"))
      .select($"a_ida", $"b_idb").as[(Long, Long)].collect().toSet
    val agg = graft.api.SpatialJoin.knnJoinAgg(a, b, k = 3, radius = 0.2,
        aKeyCol = "ida", bIdCol = "idb")
      .select($"a_ida", $"b_idb").as[(Long, Long)].collect().toSet
    assert(win.nonEmpty, "fixture produced no knn pairs")
    assert(agg == win)
  }

  test("firstNPerBin reproduces docs/testtopxkeys.md N=1/2/3 (scan limit respected)") {
    // the doc's exact 4-byte rowkey fixture (testtopxkeys.md:1-13), shuffled
    // on input to prove order comes from the key, not the source
    val rows = Seq("a4bc", "b1a7", "a1bf", "a7c9", "a3bd", "a8c8", "a2be", "a5bb", "a6ca")
      .toDF("key")
    def run(n: Int): Seq[String] =
      Gis.firstNPerBin(rows, "key", offset = 2, length = 1, n = n,
          startKey = "a", endKey = "b", limit = 5)
        .orderBy($"key").as[String].collect().toSeq
    assert(run(1) == Seq("a1bf", "a6ca"))                            // :29-33
    assert(run(2) == Seq("a1bf", "a2be", "a6ca", "a7c9"))            // :36-41
    assert(run(3) == Seq("a1bf", "a2be", "a3bd", "a6ca", "a7c9"))    // :44-50 (limit=5 drops a8c8)
  }

  test("gridDensity: cells partition the points; bbox and counts exact") {
    // two Midtown points share the precision-2 cell "dr"; one Sydney point
    // lands alone in "r3"
    val pts = Seq((-73.97, 40.76), (-73.99, 40.75), (151.21, -33.87))
      .toDF("lon", "lat")
    val got = Gis.gridDensity(pts, precision = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(got == Map(
      "dr" -> (2L, -73.99, -73.97, 40.75, 40.76),
      "r3" -> (1L, 151.21, 151.21, -33.87, -33.87)))
    // counts always sum to the input size (cells partition the corpus)
    val cells = Gis.gridDensity(manhattan, precision = 4)
    assert(cells.agg(sum($"n_points")).head.getLong(0) == manhattan.count())
    // partition invariance
    val rep = Gis.gridDensity(pts.repartition(5), precision = 2)
      .collect().map(_.toSeq).toSet
    assert(rep == Gis.gridDensity(pts, precision = 2).collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException](Gis.gridDensity(pts, precision = 0))
    intercept[IllegalArgumentException](Gis.gridDensity(pts, precision = 13))
  }
}
