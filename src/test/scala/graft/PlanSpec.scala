package graft

import graft.api.Gis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan shape assertions: the scale story, pinned. These fail if a
 * refactor silently loses predicate pushdown, partial aggregation, broadcast
 * joins, or the top-k partial/final split.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan projection+filter pushes to parquet (PushedFilters, pruned schema)") {
    val df = SparkEntry.queries("q_scan_project")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,25.0)]"),
      s"missing pushed filter in:\n$scan")
    // column pruning: untouched wide columns are not read
    assert(!scan.contains("l_comment") && !scan.contains("l_extendedprice"))
  }

  test("within on parquet-backed points pushes bbox ranges into the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pts").toString
    Gis.writePoints(Gis.bulkIngest(spark, 10000, -76, -75, 44, 45, seed = 3), dir, numFiles = 4)
    val pts = spark.read.parquet(dir)
    val q = Gis.within(pts, "POLYGON ((-75.6 44.2, -75.6 44.4, -75.4 44.4, -75.4 44.2, -75.6 44.2))")
    val p = plan(q)
    // (PushedFilters is elided in toString — the lon pair appearing proves
    // the range predicates reached the parquet scan)
    assert(p.contains("GreaterThanOrEqual(lon,-75.6)") && p.contains("LessThanOrEqual(lon,-75.4)"),
      s"bbox not pushed:\n$p")
    // geohash prefix pruning predicate is present in the scan-stage filter
    assert(p.contains("StartsWith(geohash"), s"prefix predicate missing:\n$p")
    // and the exact covers predicate stays inside whole-stage codegen
    // (the "*(n)" prefix marks codegen stages in executedPlan.toString)
    assert(p.contains("*(1) Filter"), s"covers predicate fell out of codegen:\n$p")
  }

  test("within on gh_prefix-partitioned layout prunes partitions (directory skip)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Gis.writePointsPartitioned(
      Gis.bulkIngest(spark, 20000, -76, -74, 44, 46, seed = 5), dir, prefixLen = 3)
    val pts = spark.read.parquet(dir)
    val poly = "POLYGON ((-75.1 44.9, -75.1 45.1, -74.9 45.1, -74.9 44.9, -75.1 44.9))"
    val q = Gis.within(pts, poly)
    val p = plan(q)
    assert(p.contains("PartitionFilters: ["), s"no partition filters:\n$p")
    // the scan must NOT read every partition: count selected vs total dirs
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val totalDirs = new java.io.File(dir).listFiles().count(_.getName.startsWith("gh_prefix="))
    assert(scan.selectedPartitions.partitionCount < totalDirs,
      s"read all $totalDirs partitions — pruning ineffective")
    // and results agree with the unpartitioned path
    val expected = Gis.within(pts.drop("gh_prefix"), poly).count()
    assert(q.count() == expected && expected > 0)
  }

  test("knn plans as TakeOrderedAndProject (partial heaps + driver merge)") {
    // seeded points dense enough that the origin's 10 nearest lie well
    // inside its 9-cell block
    val pts = Gis.bulkIngest(spark, 20000, -73.995, -73.945, 40.735, 40.785, seed = 9)
    // strict mode keeps the plan lazy (the sound non-strict path returns its
    // already-collected ≤k rows as a LocalTableScan — one scan, by design)
    val p = plan(Gis.knn(pts, -73.97, 40.76, 10, strict = true))
    assert(p.contains("TakeOrderedAndProject"), s"no bounded top-k operator:\n$p")
    // non-strict result agrees with the strict plan for this in-cells origin
    val strictRows = Gis.knn(pts, -73.97, 40.76, 10, strict = true)
      .select("geohash").collect().map(_.getString(0)).toSet
    val soundRows = Gis.knn(pts, -73.97, 40.76, 10)
      .select("geohash").collect().map(_.getString(0)).toSet
    assert(strictRows == soundRows)
  }

  test("knnJoinAgg plans as partial/final topn_by_ord heaps, no Window sort") {
    val p = plan(SparkEntry.queries("q_knn_join")(spark, sf))
    assert(p.contains("topn_by_ord"), s"no bounded-heap aggregate:\n$p")
    assert("partial_topn_by_ord|partial.*topn".r.findFirstIn(p).isDefined,
      s"no partial (map-side) heap stage:\n$p")
    assert(!p.contains("Window"), s"window sort crept back into knn join:\n$p")
  }

  test("tfidf plans as partial/final topn_by_ord_str heaps, no Window sort") {
    val p = plan(SparkEntry.queries("q_tfidf")(spark, sf))
    assert(p.contains("topn_by_ord_str"), s"no bounded-heap aggregate:\n$p")
    assert("partial_topn_by_ord_str|partial.*topn".r.findFirstIn(p).isDefined,
      s"no partial (map-side) heap stage:\n$p")
    assert(!p.contains("Window"), s"window sort crept back into tfidf:\n$p")
  }

  test("aggregation runs partial then final (map-side combine)") {
    val p = plan(SparkEntry.queries("q_agg_q1")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial/final agg split:\n$p")
    assert(p.contains("partial_"), s"no partial aggregate:\n$p")
  }

  test("dimension joins broadcast (no shuffle of the fact table)") {
    val p = plan(SparkEntry.queries("q_join_bcast")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dimensions not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("sort-merge hint pins SortMergeJoin for the big-big join") {
    val p = plan(SparkEntry.queries("q_join_sortmerge")(spark, sf))
    assert(p.contains("SortMergeJoin"), s"merge hint ignored:\n$p")
  }

  test("grouped top-N window partitions by the group key only") {
    val p = plan(SparkEntry.queries("q_topx")(spark, sf))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("optimizer rule auto-prunes raw SQL st_covers_wkt (no Gis API involved)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlpts").toString
    Gis.writePoints(Gis.bulkIngest(spark, 5000, -76, -75, 44, 45, seed = 9), dir, numFiles = 2)
    spark.read.parquet(dir).createOrReplaceTempView("sql_pts")
    val df = spark.sql(
      "SELECT id FROM sql_pts WHERE st_covers_wkt(" +
        "'POLYGON ((-75.6 44.2, -75.6 44.4, -75.4 44.4, -75.4 44.2, -75.6 44.2))', lon, lat)")
    val p = plan(df)
    assert(p.contains("GreaterThanOrEqual(lon,-75.6)"),
      s"pruning rule did not inject pushable bbox predicates:\n$p")
    // and the rewrite is idempotent (rule marks the expression as pruned)
    assert("st_covers_wkt".r.findAllIn(p.toLowerCase).size <= 2, p)
  }

  test("st_covers_wkt with a per-row (non-foldable) WKT column, mixed types") {
    // the dynamic path caches the last-parsed geometry per expression
    // instance; rows alternate geometry TYPES to defeat a type-keyed
    // shortcut and exercise the non-areal covers semantics end to end
    import spark.implicits._
    val rows = Seq(
      (1L, "POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))", 1.0, 1.0, true),
      (2L, "POINT (3.5 4.5)", 3.5, 4.5, true),
      (3L, "POINT (3.5 4.5)", 3.5, 4.6, false),
      (4L, "LINESTRING (0 0, 4 0)", 2.0, 0.0, true),
      (5L, "LINESTRING (0 0, 4 0)", 2.0, 0.1, false),
      (6L, "GEOMETRYCOLLECTION (POINT (9 9), POLYGON ((5 5, 5 6, 6 6, 6 5, 5 5)))", 9.0, 9.0, true),
      (7L, "GEOMETRYCOLLECTION (POINT (9 9), POLYGON ((5 5, 5 6, 6 6, 6 5, 5 5)))", 5.5, 5.5, true),
      (8L, "MULTIPOINT ((1 1), (2 2))", 2.0, 2.0, true),
      (9L, "MULTIPOINT ((1 1), (2 2))", 1.5, 1.5, false))
      .toDF("id", "wkt", "lon", "lat", "expect")
    val got = rows.filter(org.apache.spark.sql.functions.expr("st_covers_wkt(wkt, lon, lat)"))
      .select($"id").collect().map(_.getLong(0)).toSet
    val want = Seq(1L, 2L, 4L, 6L, 7L, 8L).toSet
    assert(got == want, s"got $got")
  }

  test("entry (driver flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("geojson sink emits valid features") {
    val pts = Gis.bulkIngest(spark, 10, -74.02, -73.93, 40.70, 40.80, seed = 13)
    val f = Gis.toGeoJson(pts.limit(1)).head().getString(0)
    assert(f.contains(""""type":"Feature"""") && f.contains(""""coordinates""""), f)
  }

  test("geojson FeatureCollection file round-trips through a JSON reader") {
    val wifi = Gis.ingestTsv(spark, graft.gates.Fixtures.WifiTsv)
    val matches = Gis.within(wifi,
      "POLYGON ((-73.980844 40.758703, -73.987214 40.761369, -73.990839 40.7564, -73.984422 40.753642, -73.980844 40.758703))")
    val path = java.nio.file.Files.createTempDirectory("geojson").resolve("out.geojson").toString
    Gis.writeGeoJson(matches, path)
    val doc = spark.read.option("multiLine", "true").json(path)
    val row = doc.selectExpr("type", "size(features) as n",
      "features[0].type as ft", "features[0].geometry.type as gt",
      "size(features[0].geometry.coordinates) as dims").head()
    assert(row.getString(0) == "FeatureCollection", row)
    assert(row.getInt(1) == 26, row)   // Midtown golden
    assert(row.getString(2) == "Feature" && row.getString(3) == "Point" && row.getInt(4) == 2, row)
    // maxFeatures guard fails fast instead of funneling a corpus to one task
    intercept[Exception] { Gis.featureCollection(wifi, maxFeatures = 10).head() }
    // byte-reproducible: same content at different parallelism = same bytes
    val doc1 = Gis.featureCollection(matches).head().getString(0)
    val doc2 = Gis.featureCollection(matches.repartition(7)).head().getString(0)
    assert(doc1 == doc2, "FeatureCollection bytes must not depend on partitioning")
  }

  test("within: holed polygon and MULTIPOLYGON end-to-end (rect-arithmetic oracle)") {
    // seeded points over the shapes' Midtown extent
    val pts = Gis.bulkIngest(spark, 5000, -74.0, -73.96, 40.745, 40.765, seed = 17)
    // axis-aligned shapes make the oracle independent of Geom: plain
    // column-range predicates (boundary-inclusive outer, strict hole interior)
    val outer = "POLYGON ((-73.99 40.75, -73.99 40.762, -73.97 40.762, -73.97 40.75, -73.99 40.75))"
    val holed = "POLYGON ((-73.99 40.75, -73.99 40.762, -73.97 40.762, -73.97 40.75, -73.99 40.75), " +
      "(-73.985 40.754, -73.985 40.758, -73.975 40.758, -73.975 40.754, -73.985 40.754))"
    val nOuter = Gis.within(pts, outer).count()
    val nHoled = Gis.within(pts, holed).count()
    val nHoleInterior = pts.filter(
      col("lon") > -73.985 && col("lon") < -73.975 &&
        col("lat") > 40.754 && col("lat") < 40.758).count()
    assert(nHoleInterior > 0 && nHoled < nOuter, "fixture must exercise the hole")
    assert(nHoled == nOuter - nHoleInterior, s"$nHoled != $nOuter - $nHoleInterior")
    // disjoint multipolygon = sum of its parts
    val r1 = "POLYGON ((-73.99 40.75, -73.99 40.76, -73.98 40.76, -73.98 40.75, -73.99 40.75))"
    val r2 = "POLYGON ((-73.975 40.75, -73.975 40.76, -73.965 40.76, -73.965 40.75, -73.975 40.75))"
    val mp = "MULTIPOLYGON (((-73.99 40.75, -73.99 40.76, -73.98 40.76, -73.98 40.75, -73.99 40.75)), " +
      "((-73.975 40.75, -73.975 40.76, -73.965 40.76, -73.965 40.75, -73.975 40.75)))"
    val n1 = Gis.within(pts, r1).count(); val n2 = Gis.within(pts, r2).count()
    assert(n1 > 0 && n2 > 0, "fixture must hit both parts")
    assert(Gis.within(pts, mp).count() == n1 + n2)
  }

  test("bitset exact-join plan: exactly 2 shuffles (bucket groupBy + pair dedup)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.pipeline.Dedup.ngramJaccardPairsFused(docs, "doc_id", "text",
      threshold = 0.8, mode = "bitset")
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    var shuffles = 0
    plan.foreach {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => shuffles += 1
      case _: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => shuffles += 1
      case _ =>
    }
    // the df-join + per-doc rarity window of the general path are computed
    // map-side off the broadcast index; regressing this means a shuffle
    // crept back into the small-vocabulary pipeline
    assert(shuffles == 2, s"expected 2 shuffles, plan has $shuffles:\n$plan")
  }

  test("deterministicMix plan: scan-local filter, zero shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.pipeline.Sampling.deterministicMix(docs, "source", "doc_id",
      Map("src0" -> 0.5, "src1" -> 0.25))
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    var shuffles = 0
    plan.foreach {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => shuffles += 1
      case _: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => shuffles += 1
      case _ =>
    }
    assert(shuffles == 0, s"mixing must stay a scan-local filter:\n$plan")
  }

  test("kmeans final assignment plan: centroid-literal argmin, zero shuffles") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.pipeline.Similarity.kmeansAssign(embs, k = 4, iters = 1)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    var shuffles = 0
    plan.foreach {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => shuffles += 1
      case _: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => shuffles += 1
      case _ =>
    }
    assert(shuffles == 0,
      s"assignment must ship centroids into the scan, not shuffle vectors:\n$plan")
    // folds: scan-local projection, zero shuffles, stable under growth
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val folds = graft.pipeline.Sampling.deterministicFolds(docs)
    var fShuffles = 0
    folds.queryExecution.executedPlan.foreach {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => fShuffles += 1
      case _ =>
    }
    assert(fShuffles == 0)
    val half = graft.pipeline.Sampling.deterministicFolds(
      docs.filter(col("doc_id") % 2 === 0))
    val full = folds.filter(col("doc_id") % 2 === 0)
    assert(half.select("doc_id", "fold").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      full.select("doc_id", "fold").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("interval lookup plans as broadcast HASH join, not nested-loop") {
    val spark2 = spark
    import spark2.implicits._
    val facts = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_custkey", $"c_acctbal")
    val tiers = spark.range(-2, 20).select($"id".as("tier"),
      ($"id" * 500.0).as("lo"), (($"id" + 1) * 500.0).as("hi"))
    val df = graft.api.IntervalJoin.lookup(facts, "c_acctbal", tiers, bucketWidth = 500.0)
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    var hash = 0; var nlj = 0
    plan.foreach {
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => hash += 1
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => nlj += 1
      case _ =>
    }
    assert(hash >= 1 && nlj == 0,
      s"bucketed lookup must hash-join on the bucket key:\n$plan")
    // and it equals the raw range join exactly (bucketing is a pure
    // candidate superset re-checked by the real predicate)
    val raw = facts.join(tiers,
        facts("c_acctbal") >= tiers("lo") && facts("c_acctbal") < tiers("hi"))
      .select($"c_custkey", $"tier")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = df.select($"c_custkey", $"tier")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == raw && raw.nonEmpty)
  }

  test("applyChanges plan: small changeset broadcasts, corpus never shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val changes = docs.limit(20).withColumn("op", lit("upsert"))
    val df = graft.pipeline.Snapshots.applyChanges(docs, changes, Seq("doc_id"))
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bcastAnti = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(bcastAnti.nonEmpty,
      s"the anti join must broadcast the small changeset:\n$plan")
  }

  test("WKT round-trip (F6 serialization parity)") {
    val wkt = "POLYGON ((-73.980844 40.758703, -73.987214 40.761369, -73.990839 40.7564, -73.984422 40.753642, -73.980844 40.758703))"
    val p = graft.geo.Geom.parseWktPolygon(wkt)
    val p2 = graft.geo.Geom.parseWktPolygon(graft.geo.Geom.toWkt(p))
    assert(p.ring == p2.ring)
  }

  private def countShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    var shuffles = 0
    plan.foreach {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => shuffles += 1
      case _: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec => shuffles += 1
      case _ =>
    }
    shuffles
  }

  test("event-sequence operator plans: the sorted-fold ops shuffle ONCE") {
    val events = graft.sources.Tables.table(spark, sf, "events")
    // funnel and throttle are one groupBy + scan-local fold — exactly one
    // exchange; a second one means the fold regressed to joins/windows
    assert(countShuffles(graft.pipeline.EventAnalytics.funnel(
      events, Seq("view", "click", "purchase"))) == 1)
    assert(countShuffles(graft.pipeline.EventAnalytics.throttle(
      events, 3600000L)) == 1)
    // transitions: user-lag window + pair agg + share window (pair table
    // is |types|^2-bounded, the extra exchanges carry almost nothing)
    assert(countShuffles(graft.pipeline.EventAnalytics.transitions(events)) == 3)
    // retention: distinct activity + cohort window + cell agg, no join
    assert(countShuffles(graft.pipeline.EventAnalytics.retention(events, 7)) == 3)
  }

  test("distinctKmv plan: only the bounded-heap agg shuffles, once") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val df = graft.pipeline.Sketches.distinctKmv(li, "l_suppkey", "l_partkey", 16)
    // r14: the pre-distinct exchange is gone — dedup happens INSIDE the
    // map-side distinct-capped heap (TopNDistinctLong), so the single
    // remaining exchange carries ≤ k rows per task × group
    assert(countShuffles(df) == 1, "bounded distinct-heap agg only")
    // and the scan is pruned to exactly the two columns involved
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      planStr)
  }

  test("distinctHll plan: bounded register tables shuffle, twice, pruned scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val df = graft.pipeline.Sketches.distinctHll(li, "l_suppkey", "l_partkey")
    // (group, register) partial max combines map-side, then the per-group
    // rollup — two exchanges, like KMV; a third means hashing stopped
    // happening at the scan
    assert(countShuffles(df) == 2, "register max + per-group rollup")
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      planStr)
  }

  test("tripleRules plan: no cartesian/NLJ; base scanned at most twice") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val df = graft.pipeline.MarketBasket.tripleRules(
      li, "l_orderkey", "l_suppkey", minSupport = 2, topK = 50)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // the deduped (basket, item) table is checkpointed once; only the
    // items0 derivation's two consumers (sizes agg + the guard join) may
    // re-read the base — every pair/triple/metric consumer must hit the
    // checkpoint, not the parquet
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans <= 2, s"base scanned $scans times:\n$plan")
  }

  test("AQE-off parity for the round's new gates") {
    // the correctness gates only ever run with AQE on; a result that
    // depended on runtime re-planning (coalesced partitions, converted
    // joins) would be invisible to them — pin plan-independence directly
    val names = Seq("q_assoc_triples", "q_triangles", "q_clustering_coeff",
      "q_distinct_hll", "q_quantile_sketch", "q_pagerank_weighted",
      "q_dedup_clusters_incr", "q_embed_topk_ivf_det",
      "q_pagerank_seeded", "q_label_prop", "q_community_stats", "q_modularity")
    names.foreach { n =>
      val on = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val off = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
        assert(off == on, s"$n diverges under AQE-off")
        assert(on.nonEmpty, s"$n empty at $sf — parity vacuous")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("AQE-off parity for the round-8 gates") {
    val names = Seq("q_hits", "q_kmv_setops", "q_cms_counts",
      "q_dedup_containment", "q_kcore", "q_scd2", "q_scd2_lookup",
      "q_interval_merge", "q_kth_value", "q_collocations",
      "q_bfs_dist", "q_random_walks", "q_common_nbrs", "q_decayed_counts")
    names.foreach { n =>
      val on = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val off = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
        assert(off == on, s"$n diverges under AQE-off")
        assert(on.nonEmpty, s"$n empty at $sf — parity vacuous")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("AQE-off parity for the round-9 gates") {
    val names = Seq("q_sssp", "q_components", "q_sample_weighted",
      "q_lexical_stats", "q_mmr_rerank", "q_degree_dist", "q_winsorize",
      "q_node2vec", "q_temporal_reach")
    names.foreach { n =>
      val on = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val off = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
        assert(off == on, s"$n diverges under AQE-off")
        assert(on.nonEmpty, s"$n empty at $sf — parity vacuous")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("AQE-off parity for the round-10 gates") {
    val names = Seq("q_components_conv", "q_blocklist", "q_mad",
      "q_dedup_canonical", "q_binary_eval", "q_calibration",
      "q_dedup_minhash_words", "q_ingest_jsonl", "q_source_terms",
      "q_vocab_drift")
    names.foreach { n =>
      val on = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val off = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
        assert(off == on, s"$n diverges under AQE-off")
        assert(on.nonEmpty, s"$n empty at $sf — parity vacuous")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("AQE-off parity for the round-11 gates") {
    val names = Seq("q_kcore_conv", "q_dedup_media", "q_decontaminate",
      "q_pref_winrate", "q_kappa", "q_apportion", "q_weighted_median",
      "q_ohlc", "q_twap", "q_cusum", "q_hybrid_rerank", "q_trend",
      "q_hard_negatives", "q_binary_eval_folds", "q_rank_corr", "q_twap_salted",
      "q_weighted_median_refine", "q_class_balance", "q_calibration_quantile")
    names.foreach { n =>
      val on = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val off = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
        assert(off == on, s"$n diverges under AQE-off")
        assert(on.nonEmpty, s"$n empty at $sf — parity vacuous")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("AQE-off parity for the round-12 gates") {
    val names = Seq("q_dedup_media_h7", "q_dedup_media_clusters",
      "q_dedup_keeplist", "q_dedup_keeplist_incr", "q_dedup_media_incr")
    names.foreach { n =>
      val on = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val off = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSet
        assert(off == on, s"$n diverges under AQE-off")
        assert(on.nonEmpty, s"$n empty at $sf — parity vacuous")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("media keep-list plan: no cartesian/NLJ; output linear in the media table") {
    val df = SparkEntry.queries("q_dedup_media_clusters")(spark, sf)
    val n = df.count()
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(n == docs, s"keep-list must be one row per media item: $n vs $docs")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"media keep-list plan grew a cartesian/NLJ:\n$plan")
  }

  test("hardNegatives plan: anchors broadcast, no window, corpus never sort-merges") {
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.pipeline.Similarity.hardNegatives(
      embs.filter(col("vec_id") < 5), embs)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"anchor side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus sort-merged:\n$plan")
    assert(!plan.contains("Window"), s"argmax must be an aggregate, not a window:\n$plan")
  }

  test("hybrid rerank plan: bounded candidates broadcast into the embedding scan") {
    val df = SparkEntry.queries("q_hybrid_rerank")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate set must broadcast into the embedding scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"final top-k must be a bounded heap, not a global sort:\n$plan")
  }

  test("blocklistStats plan is scan-local: no exchange, no UDF") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.pipeline.Curation.blocklistStats(docs,
      Seq("slow", "big table", "forbidden"))
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"blocklist report shuffled — it must stay a projection:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"blocklist uses a UDF — must be codegen'd HOFs:\n$plan")
  }

  test("clusterCanonical plan never shuffles the corpus text") {
    // the keeper window partitions the labels table (pair-population-
    // sized); the corpus scan must reach it as (id, score) only. A
    // test-owned parquet (not the shared fixture) keeps the scan a real
    // FileScan regardless of what other suites cached.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-canon-plan").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"n_chars", $"text")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L))
      .toDF("id", "cluster")
    val df = graft.pipeline.Dedup.clusterCanonical(labels, docs, "doc_id", "n_chars")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("graft-canon-plan"))
    assert(scanLine.nonEmpty, plan)
    assert(!scanLine.get.contains("text"),
      s"corpus scan reads text for a keeper selection:\n${scanLine.get}")
  }

  test("sssp/components/node2vec plans: no nested-loop or cartesian joins") {
    val edges = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_suppkey as src", "l_partkey as dst",
        "CAST(l_quantity AS LONG) as w").limit(2000)
    val seeds = spark.range(1, 5).selectExpr("id as node")
    def assertNoNlj(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$what plan has NLJ/cartesian:\n$plan")
    }
    assertNoNlj(graft.pipeline.Graph.ssspWeighted(edges, seeds, rounds = 5), "sssp")
    assertNoNlj(graft.pipeline.Graph.componentLabels(
      edges.select("src", "dst"), rounds = 5), "components")
    assertNoNlj(graft.pipeline.Graph.node2vecWalks(
      edges.select("src", "dst"), walksPerNode = 1, length = 3), "node2vec")
  }

  test("bfs/walks plans: no nested-loop or cartesian joins at any round") {
    val edges = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_suppkey as src", "l_partkey as dst").limit(2000)
    val seeds = spark.range(1, 5).selectExpr("id as node")
    val bfs = graft.pipeline.Graph.bfsDistances(edges, seeds, rounds = 5)
    bfs.count()
    val bp = bfs.queryExecution.executedPlan.toString
    assert(!bp.contains("BroadcastNestedLoopJoin") &&
      !bp.contains("CartesianProduct"), bp)
    val walks = graft.pipeline.Graph.randomWalks(edges, 2, 3)
    walks.count()
    val wp = walks.queryExecution.executedPlan.toString
    // every per-step join is an equi-join on the current node (the pick
    // resolves BEFORE adjacency is touched — a hub's neighbors are never
    // replicated per walk), so neither NLJ nor cartesian may appear
    assert(!wp.contains("BroadcastNestedLoopJoin") &&
      !wp.contains("CartesianProduct"), wp)
  }

  test("clusteringCoefficients: ONE canonical-edge pass — no source re-scan in final plan") {
    // canonDeg materializes the canonical edge set once; degrees, the
    // orientation join, and the coefficient denominator all read from the
    // checkpointed blocks. The raw parquet source is scanned exactly once
    // (inside materialize), so the FINAL plan must contain zero file scans
    // — a re-derived canonical pass (the pre-r8 shape) shows up here as a
    // FileScan leaf reappearing.
    val edges = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_suppkey as src", "l_partkey as dst").limit(2000)
    val df = graft.pipeline.Graph.clusteringCoefficients(edges)
    df.count()
    val p = plan(df)
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 0,
      s"raw edge source re-scanned $scans times in the final plan (canonDeg must feed every consumer):\n$p")
  }

  test("cosine near-dup verify joins are hash joins, not sort-merge") {
    // the candidate-pair stream is orders of magnitude larger than the
    // vector table; an SMJ would sort the whole stream per verify join
    // (measured at 200k vectors: ~70 GB of sort spill, ENOSPC) — the
    // shuffle_hash hint must survive planning so the stream stays a
    // pipelined probe with zero sorts
    val df = SparkEntry.queries("q_dedup_cosine")(spark, sf)
    val p = plan(df)
    assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"verify join lost its hash-join form:\n$p")
    assert(!p.contains("SortMergeJoin"), s"candidate stream is being sorted:\n$p")
  }

  test("containment verify joins never sort-merge the candidate stream") {
    // same contract as the cosine pin: on the default (no-hint) path the
    // gram-array joins are hinted shuffle_hash, and with a fitting
    // corpusSizeHint they broadcast — either way zero SortMergeJoin
    // only the id_a/id_b verify joins carry the contract — the upstream
    // gram-frequency join may legitimately sort-merge two huge sides
    def smjOnIds(p: String): Boolean = p.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && (l.contains("id_a") || l.contains("id_b")))
    // auto sizing (the gate's default): the tiny corpus fits the byte
    // budget → broadcast verify, candidate stream never shuffles
    val p = plan(SparkEntry.queries("q_dedup_containment")(spark, sf))
    assert(p.contains("BroadcastHashJoin") && !smjOnIds(p),
      s"auto verify path should broadcast here:\n$p")
    // forced shuffle path (corpusSizeHint < 0): hash joins, never SMJ —
    // a sorted candidate stream carrying KB gram arrays is the ENOSPC shape
    val sh = graft.pipeline.Dedup.containmentPairs(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      thresholdPermille = 800, corpusSizeHint = -1L)
    val ps = plan(sh)
    assert(ps.contains("ShuffledHashJoin") && !smjOnIds(ps),
      s"forced shuffle verify path lost its hash-join form:\n$ps")
  }

  test("pagerank plan: no nested-loop or cartesian joins at any iteration") {
    val edges = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_suppkey as src", "l_partkey as dst").limit(2000)
    val df = graft.pipeline.Graph.pagerankInt(edges, iters = 2)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("double_sortable_bits totally orders mixed-sign doubles and round-trips") {
    val vals = Seq(-1.0 / 0.0, -1e300, -2.5, -1e-300, -0.0, 0.0, 1e-300, 3.25, 1e300, 1.0 / 0.0)
    val rows = spark.createDataFrame(vals.zipWithIndex.map { case (d, i) => (i, d) })
      .toDF("i", "d")
      .selectExpr("i", "d", "double_sortable_bits(d) as enc",
        "sortable_bits_to_double(double_sortable_bits(d)) as back")
      .orderBy(col("enc"))
      .collect()
    // encoded order == numeric order (vals is already ascending; -0.0 before 0.0)
    assert(rows.map(_.getInt(0)).toSeq == vals.indices, rows.mkString(", "))
    rows.foreach { r =>
      val d = r.getDouble(1); val back = r.getDouble(3)
      assert(java.lang.Double.doubleToRawLongBits(d) ==
        java.lang.Double.doubleToRawLongBits(back), s"round-trip broke for $d -> $back")
    }
  }
}
