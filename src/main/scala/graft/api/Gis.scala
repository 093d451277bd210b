package graft.api

import graft.geo.GeohashPruning
import graft.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Dataset-returning API mirroring the reference's entry points:
 * Ingest (src/main/java/tech/stackable/gis/hbase/Ingest.java),
 * BulkIngest (BulkIngest.java), WithinQuery (WithinQuery.java),
 * KNNQuery (KNNQuery.java + coprocessor/KNNEndpoint.java),
 * TopX (coprocessor/TopXEndpoint.java).
 *
 * Scale posture: every operator is a declarative plan — filters reach the
 * scan (prefix pruning = partition pruning on geohash-sorted parquet),
 * top-k plans as TakeOrderedAndProject (per-partition partial heap + driver
 * merge — exactly the reference's region-endpoint/client split), grouped
 * top-N is a shuffle-on-key window. Three things run on the driver: final
 * `limit k` results, and [[knn]] and [[within]] over a stored parquet
 * table, which read the few row groups they need there, up to a fixed row
 * budget, the way the reference's KNN client and "local" WithinQuery scan
 * from the client.
 */
object Gis {

  /** Positional column names the reference's loader assigns (Ingest.java:31-34). */
  val WifiColumns: Seq[String] =
    Seq("lon", "lat", "id", "name", "address", "city", "url", "phone", "type", "zip")

  /**
   * TSV point ingest (reference S1-S3, S7: Ingest.java:40-99 +
   * AbstractTestUtil.java:50-81 dedup): header-skipping tab-split, positional
   * names, lon/lat to double (unparseable → null ≈ reference NaN), derived
   * `geohash` rowkey at `precision` chars, dedup on it.
   */
  def ingestTsv(spark: SparkSession, path: String, precision: Int = 12,
                dedup: Boolean = true): DataFrame = {
    val raw = spark.read
      .option("sep", "\t").option("header", "true")
      .option("quote", "") // reference splits on tabs only, quotes are data (Ingest.java:36-38)
      .csv(path)
    val named = raw.toDF(WifiColumns.take(raw.columns.length): _*)
    val keyed = named
      .withColumn("lon", col("lon").try_cast("double"))
      .withColumn("lat", col("lat").try_cast("double"))
      .withColumn("geohash", geohash_encode(col("lat"), col("lon"), precision))
    if (dedup) keyed.dropDuplicates("geohash") else keyed
  }

  /**
   * Seeded synthetic point generator (reference S4: BulkIngest.java:27-105 —
   * uniform points in a bbox, index ids, 10-char random text columns). The
   * reference uses an unseeded Random; ours is deterministic by `seed` AND
   * by row: every column derives from `hash(id, seed)`, never `rand(seed)`
   * (which Spark seeds per-partition, so the dataset would change with
   * parallelism — local[4] vs local[32] vs a real cluster). The same seed
   * yields the identical dataset at any partition count.
   * Fully distributed: spark.range partitions the id space.
   */
  def bulkIngest(spark: SparkSession, count: Long,
                 lonMin: Double, lonMax: Double, latMin: Double, latMax: Double,
                 seed: Long = 42L, precision: Int = 12,
                 numPartitions: Int = 0): DataFrame = {
    val textCol = (name: String, i: Int) =>
      substring(sha2(concat_ws("-", lit(name), col("id"), lit(seed + i)), 256), 1, 10).as(name)
    // uniform in [0,1) from the top 53 bits of a per-row 64-bit hash
    val unif = (i: Int) =>
      shiftrightunsigned(xxhash64(lit(i), col("id"), lit(seed)), 11)
        .cast("double") / lit((1L << 53).toDouble)
    val ids = if (numPartitions > 0) spark.range(0, count, 1, numPartitions)
              else spark.range(count)
    ids
      .select(
        (lit(lonMin) + unif(0) * (lonMax - lonMin)).as("lon"),
        (lit(latMin) + unif(1) * (latMax - latMin)).as("lat"),
        col("id").cast("string").as("id"),
        textCol("name", 2), textCol("address", 3), textCol("city", 4),
        textCol("url", 5), textCol("phone", 6), textCol("type", 7), textCol("zip", 8))
      .withColumn("geohash", geohash_encode(col("lat"), col("lon"), precision))
  }

  /** Persist points geohash-sorted so prefix predicates become partition/
    * row-group pruning (the Spark analog of HBase rowkey-range locality). */
  def writePoints(df: DataFrame, path: String, numFiles: Int = 32): Unit =
    df.repartitionByRange(numFiles, col("geohash"))
      .sortWithinPartitions("geohash")
      .write.mode("overwrite").parquet(path)

  /**
   * Hive-style layout partitioned by a geohash prefix directory column
   * (`gh_prefix`) — spatial queries then skip whole directories before any
   * file is opened (true partition pruning, the 100 TB scan-avoidance
   * lever; the HBase analog is region pruning by rowkey range).
   * `prefixLen` trades directory count (32^len) against pruning granularity.
   *
   * Writer tasks range-partition on (gh_prefix, geohash) rather than
   * hash-partitioning on the prefix alone: hash-by-prefix pins each
   * directory to ONE writer task, so a hot geohash region (the skew case a
   * 100 TB corpus always has) serializes into a single task and emits one
   * giant file — range splits let a hot prefix span several writer tasks
   * (and thus several files per directory, preserving read parallelism
   * after pruning), while cold prefixes share a task. Sorting within tasks
   * keeps row-group min/max stats tight for the `geohash` prefix filter.
   */
  def writePointsPartitioned(df: DataFrame, path: String, prefixLen: Int = 3,
                             numFiles: Int = 64): Unit =
    df.withColumn("gh_prefix", substring(col("geohash"), 1, prefixLen))
      .repartitionByRange(numFiles, col("gh_prefix"), col("geohash"))
      .sortWithinPartitions("gh_prefix", "geohash")
      .write.partitionBy("gh_prefix").mode("overwrite").parquet(path)

  /** Predicate on the `gh_prefix` partition column selecting every partition
    * that can contain a geohash starting with one of `prefixes`. Length-
    * agnostic (works for any prefixLen the data was written with): partition
    * value and query prefix must be prefixes of EACH OTHER. */
  private def partitionPrefixPredicate(prefixes: Seq[String]): Column =
    prefixes.map { p =>
      col("gh_prefix").startsWith(p) || lit(p).startsWith(col("gh_prefix"))
    }.reduce(_ || _)

  /**
   * GeoJSON result projection (reference S8: QueryMatch terminal output +
   * figures/ Leaflet rendering of data/wifi_4326.geojson): one GeoJSON
   * Feature string per row; collect or write as lines to form a
   * FeatureCollection.
   */
  def toGeoJson(df: DataFrame, lonCol: String = "lon", latCol: String = "lat",
                propCols: Seq[String] = Seq("id", "name")): DataFrame = {
    val props = propCols.filter(df.columns.contains)
    df.select(to_json(struct(
      lit("Feature").as("type"),
      struct(lit("Point").as("type"), array(col(lonCol), col(latCol)).as("coordinates"))
        .as("geometry"),
      struct(props.map(col): _*).as("properties"))).as("feature"))
  }

  /**
   * Full FeatureCollection document (reference figures/index.htm +
   * figures/js/figures.js:64-77 render `data/wifi_4326.geojson`, a
   * FeatureCollection — not bare Features): single-row DataFrame holding the
   * complete JSON document. The features are built distributed
   * ([[toGeoJson]]); only the final concatenation funnels to one task, which
   * is inherent to emitting ONE document and sized for render output (query
   * matches), not raw corpora — `maxFeatures` fails fast if misused on one.
   */
  def featureCollection(df: DataFrame, lonCol: String = "lon",
                        latCol: String = "lat",
                        propCols: Seq[String] = Seq("id", "name"),
                        maxFeatures: Int = 1000000): DataFrame = {
    val limited = toGeoJson(df, lonCol, latCol, propCols).limit(maxFeatures + 1)
    // sort_array over the collected feature strings: collect_list order is
    // partition/run nondeterministic, and the document must be
    // byte-reproducible (diffable, hashable) run to run
    limited.agg(count(lit(1)).as("__n"),
        concat_ws(",", sort_array(collect_list(col("feature")))).as("__fs"))
      .select(
        when(col("__n") > maxFeatures,
          raise_error(lit(s"featureCollection: result exceeds maxFeatures=$maxFeatures; " +
            "this sink is for render-sized query output")))
          .otherwise(concat(lit("""{"type":"FeatureCollection","features":["""),
            col("__fs"), lit("]}")))
          .as("feature_collection"))
  }

  /** Write the [[featureCollection]] document of `df` as one `.geojson` file
    * (drop-in for the reference's figures data). */
  def writeGeoJson(df: DataFrame, path: String, lonCol: String = "lon",
                   latCol: String = "lat",
                   propCols: Seq[String] = Seq("id", "name")): Unit = {
    val doc = featureCollection(df, lonCol, latCol, propCols)
      .head().getString(0)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      doc.getBytes("UTF-8"))
    ()
  }

  /**
   * Per-geohash-cell density summary at `precision` — the heatmap/tile
   * aggregation behind the reference's figures rendering (each cell's
   * point count plus the bbox of the points actually inside it, ready
   * for choropleth shading or tile pre-aggregation). ONE
   * map-side-combined aggregate; output is bounded by 32^precision
   * cells regardless of corpus size, so a 100 TB point table reduces to
   * a render-sized frame in a single pass. min/max are comparison-only
   * (no accumulation), so the bbox doubles replay bit-exactly.
   */
  def gridDensity(points: DataFrame, precision: Int,
                  lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    require(precision >= 1 && precision <= 12,
      s"precision must be in [1, 12], got $precision")
    points
      .groupBy(graft.sql.functions
        .geohash_encode(col(latCol), col(lonCol), precision).as("cell"))
      .agg(count(lit(1)).as("n_points"),
        min(col(lonCol)).as("min_lon"), max(col(lonCol)).as("max_lon"),
        min(col(latCol)).as("min_lat"), max(col(latCol)).as("max_lat"))
  }

  /** OR-of-startsWith prefix predicate (reference F1: PrefixFilter scans). */
  def prefixPredicate(geohashCol: Column, prefixes: Seq[String]): Column =
    prefixes.map(p => geohashCol.startsWith(p)).reduce(_ || _)

  /**
   * Polygon containment query (reference WithinQuery.java:104-174, both
   * "local" and "remote" modes): candidate pruning by the geometry's bbox
   * and its minimum-bounding geohash prefixes (WithinQuery.java:79-102),
   * then exact boundary-inclusive `covers` refinement. Falls back to no
   * prefix pruning when no prefix set covers the geometry (the reference
   * throws instead — WithinQuery.java:100-101).
   *
   * When `points` is a bare scan of a stored parquet table (such as a
   * [[writePointsPartitioned]] layout read with `spark.read.parquet`) with
   * double `lonCol`/`latCol`, the query runs on the driver, as the
   * reference's "local" mode runs in its client: only the row groups whose
   * footer statistics (the `lon`/`lat` box and the `geohashCol` min/max)
   * can hold a match are read, each row is kept when the distributed plan's
   * own filter condition holds for it, and the rows come back as a local
   * frame. They are read when `within` is called, and no Spark job runs.
   * Any other frame, or a selection of more than a fixed row budget, plans
   * as one scan-stage filter: the bbox ranges and prefix predicates push
   * to the parquet scan, and a `gh_prefix` column prunes directories.
   * `prune = false` is the unpruned scan with the `covers` filter alone.
   */
  def within(points: DataFrame, wktPolygon: String,
             lonCol: String = "lon", latCol: String = "lat",
             geohashCol: String = "geohash", prune: Boolean = true): DataFrame =
    withinSearch(points, wktPolygon, lonCol, latCol, geohashCol, prune)._1

  /** [[within]] with what its search did: the driver read of [[RowGroups]]
    * when the row groups it selects hold at most `rowBudget` rows, else the
    * distributed filter (and, for `prune = false`, no search at all). */
  private[graft] def withinSearch(points: DataFrame, wktPolygon: String,
                                  lonCol: String = "lon", latCol: String = "lat",
                                  geohashCol: String = "geohash", prune: Boolean = true,
                                  rowBudget: Long = RowGroups.WithinRowBudget
                                 ): (DataFrame, RowGroups.Record) = {
    val covers = st_covers(wktPolygon, col(lonCol), col(latCol))
    if (!prune) (points.filter(covers), RowGroups.Record(0, 0, 0L, proved = false))
    else {
      // Candidate stage 1: the geometry's bbox as plain numeric ranges —
      // these push down to parquet row-group min/max stats on ANY storage
      // layout (the reference can only key-range prune; we get both).
      val query = graft.geo.Geom.parseWkt(wktPolygon)
      val (xMin, xMax, yMin, yMax) = query.bbox
      val bbox = col(lonCol) >= xMin && col(lonCol) <= xMax &&
        col(latCol) >= yMin && col(latCol) <= yMax
      // Candidate stage 2: geohash key-prefix pruning when the key column
      // exists — on geohash-sorted parquet this is partition pruning,
      // reproducing the reference's HBase start-row scans.
      val prefixes =
        if (points.columns.contains(geohashCol)) GeohashPruning.minimumBoundingPrefixes(query)
        else None
      val keyed = prefixes.fold(bbox) { ps =>
        val k = bbox && prefixPredicate(col(geohashCol), ps)
        // gh_prefix directory column present → add the partition-pruning
        // predicate too (length-agnostic)
        if (points.columns.contains("gh_prefix")) k && partitionPrefixPredicate(ps) else k
      }
      // one filter, analyzed once: the conjunction that stacked filters
      // combine into, and the condition the driver path tests per row
      val filtered = points.filter(keyed && covers)
      val (found, record) = RowGroups.within(points, filtered, query.bbox, prefixes,
        lonCol, latCol, geohashCol, rowBudget)
      (found.getOrElse(filtered), record)
    }
  }

  /**
   * K-nearest-neighbors by planar Euclidean degree distance (reference
   * KNNQuery.java:42-91 / KNNEndpoint.java:61-119), exact by default.
   *
   * When `points` is a bare scan of a stored parquet table (such as a
   * [[writePointsPartitioned]] layout read with `spark.read.parquet`) with
   * double `lonCol`/`latCol`, a best-first search on the driver reads its
   * row groups in order of their `lon`/`lat` bounding box's distance to the
   * origin, from the footer statistics, and stops once the k-th distance so
   * far is at most the next box's; the answer comes back as a local frame,
   * and no Spark job runs. Any other frame, or a search that would read
   * more than a fixed row budget, plans as TakeOrderedAndProject:
   * per-partition bounded top-k + driver merge, the same partial/final
   * shape as the reference's region endpoints + client, including the final
   * cross-region merge the reference's KNNClient never performs
   * (KNNClient.java:55-57).
   *
   * strict=true reproduces the reference's 9-cell candidate bound: one scan
   * of the cell at `precision` and its 8 neighbours (and, on a
   * [[writePointsPartitioned]] layout, only the `gh_prefix` directories
   * they touch), which may miss true neighbors past the cell edges.
   *
   * A point with a null coordinate is never a neighbour. k = 0 yields an
   * empty frame with the result schema; k < 0 is an error.
   */
  def knn(points: DataFrame, lon: Double, lat: Double, k: Int,
          strict: Boolean = false, precision: Int = 7,
          lonCol: String = "lon", latCol: String = "lat",
          geohashCol: String = "geohash"): DataFrame = {
    require(k >= 0, s"k must be non-negative, got k = $k")
    require(lon.isFinite && lat.isFinite, s"the origin must be finite, got lon = $lon, lat = $lat")
    if (k == 0) topK(points, lon, lat, k, lonCol, latCol)
    else if (!strict) knnSearch(points, lon, lat, k, lonCol, latCol, geohashCol)._1
    else if (points.columns.contains(geohashCol)) {
      val prefixes = GeohashPruning.knnPrefixes(lon, lat, precision)
      val keyed = points.filter(prefixPredicate(col(geohashCol), prefixes))
      val ring = if (points.columns.contains("gh_prefix"))
        keyed.filter(partitionPrefixPredicate(prefixes)) else keyed
      topK(ring, lon, lat, k, lonCol, latCol)
    } else topK(points, lon, lat, k, lonCol, latCol)
  }

  /** The exact [[knn]] with what its search did: the row-group search of
    * [[RowGroups]] when it proves its answer within `rowBudget` rows,
    * else the distributed top-k. */
  private[graft] def knnSearch(points: DataFrame, lon: Double, lat: Double, k: Int,
                               lonCol: String = "lon", latCol: String = "lat",
                               geohashCol: String = "geohash",
                               rowBudget: Long = RowGroups.RowBudget
                              ): (DataFrame, RowGroups.Record) = {
    val (found, record) = RowGroups.knn(points, lon, lat, k, lonCol, latCol, geohashCol,
      rowBudget)
    (found.getOrElse(topK(points, lon, lat, k, lonCol, latCol)), record)
  }

  /** The k rows of `base` nearest to (lon, lat) with their `distance`, as a
    * TakeOrderedAndProject plan. A null coordinate has no distance and is
    * never a neighbour (an ascending sort would otherwise put its null
    * distance first). */
  private def topK(base: DataFrame, lon: Double, lat: Double, k: Int,
                   lonCol: String, latCol: String): DataFrame = base
    .withColumn("distance",
      st_distance_euclidean(col(lonCol), col(latCol), lit(lon), lit(lat)))
    .filter(col("distance").isNotNull)
    .orderBy(col("distance").asc)
    .limit(k)

  /**
   * Grouped top-N-earliest (reference TopXEndpoint.java:58-123: per-region
   * per-group bounded heaps keeping the N smallest timestamps). Canonical
   * Spark shape: window rank over (group, ts asc).
   */
  def topX(df: DataFrame, groupCol: String, tsCol: String, n: Int,
           tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(tsCol).asc +: tieBreak.map(col(_).asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /**
   * First-N-per-bin scan (reference design doc docs/testtopxkeys.md:14-52):
   * over the rowkey range [startKey, endKey), the bin-id is the rowkey
   * substring at byte `offset` (0-based, as in the doc) of `length` bytes;
   * keep the first `n` rows of each bin in rowkey order, and the scan's own
   * `limit` still caps the total result, taken in rowkey order
   * (testtopxkeys.md:52 "the limit=5 of the scan should still be respected").
   *
   * Plan shape: the range predicates push to the scan; per-bin first-N is a
   * row_number window shuffled on the bin only; the global cap plans as
   * TakeOrderedAndProject (partial per-partition top-limit + merge), so no
   * global sort materializes.
   */
  def firstNPerBin(df: DataFrame, keyCol: String, offset: Int, length: Int,
                   n: Int, startKey: String = "", endKey: String = "",
                   limit: Int = Int.MaxValue): DataFrame = {
    val k = col(keyCol)
    val ranged = df
      .filter(if (startKey.nonEmpty) k >= startKey else lit(true))
      .filter(if (endKey.nonEmpty) k < endKey else lit(true))
    val w = Window.partitionBy(col("__bin")).orderBy(k.asc)
    // bin on the key's UTF-8 BYTES (substring over binary is byte-indexed):
    // the reference doc defines the bin-id as a byte offset/length into the
    // rowkey, which only coincides with character indexing for ASCII keys
    val firstN = ranged
      .withColumn("__bin", substring(encode(k, "UTF-8"), offset + 1, length))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__bin", "__rn")
    if (limit == Int.MaxValue) firstN else firstN.orderBy(k.asc).limit(limit)
  }

  /**
   * Grouped top-N via the bounded-heap TypedImperativeAggregate: partial
   * per-partition heaps + final merge — at most n rows per (map task,
   * group) are shuffled, vs. every row for the window formulation. This is
   * the reference's coprocessor shape (TopXEndpoint partial heaps + the
   * final merge its client lacks). Ordering (ordCol, idCol) is total ⇒
   * deterministic under ties. Both must be long-typed.
   */
  def topXAgg(df: DataFrame, groupCol: String, ordCol: String, idCol: String,
              n: Int): DataFrame = {
    import org.apache.spark.sql.GraftShims
    val agg = GraftShims.column(
      org.apache.spark.sql.graft.TopNByOrd(
        GraftShims.expression(col(ordCol)),
        GraftShims.expression(col(idCol)), n).toAggregateExpression())
    df.groupBy(col(groupCol))
      .agg(agg.as("__topn"))
      .select(col(groupCol), explode(col("__topn")).as("__p"))
      .select(col(groupCol), col("__p.ord").as(ordCol), col("__p.id").as(idCol))
  }
}
