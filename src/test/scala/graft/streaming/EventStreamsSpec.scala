package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventStreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  lazy val events = graft.sources.Tables.table(spark, dir, "events").cache()

  test("streaming windowed counts == batch twin (file source, memory sink)") {
    // file source needs a directory — stage the single parquet file into one
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wc_out")
        .select("window_start", "event_type", "n", "value_milli")
        .collect().map(_.toSeq).toSet
      val batch = EventStreams.windowedCountsBatch(events)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming OHLC candles == batch twin (partial candles merge across batches)") {
    val batch = graft.pipeline.EventAnalytics.downsampleOhlc(events,
      keyCol = "event_type", bucketSeconds = 86400L)
      .select("bucket_start", "event_type", "n", "open_cents", "high_cents",
        "low_cents", "close_cents", "sum_cents")
      .collect().map(_.toSeq).toSet
    // split at the event_id median into two files processed as separate
    // micro-batches, so open/close partials must merge in state
    val median = events.stat.approxQuantile("event_id", Array(0.5), 0.0)(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ohlc-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ohlc-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(events.filter(col("event_id") <= median), "a.parquet", 120000L)
    writeOne(events.filter(col("event_id") > median), "b.parquet", 1000L)
    val stream = spark.readStream.schema(EventStreams.eventFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = EventStreams.ohlcStream(
      graft.sources.Tables.normalizeEventTs(stream))
      .writeStream.outputMode("complete").format("memory")
      .queryName("ohlc_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ohlc_out").collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch,
        "streaming OHLC must equal the batch candles after both batches")
    } finally q.stop()
  }

  test("streaming CUSUM (frozen params) == batch replay on closed buckets") {
    import spark.implicits._
    // frozen per-key params profiled from the corpus's own daily sums
    val daily = graft.pipeline.EventAnalytics
      .cusumBuckets(events, "event_type", 86400000000L, 86400L, "value")
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).map { case (k, xs) =>
        val t = xs.map(_._2).sum / xs.size
        k -> (t, t * 100 / 1000, t * 300 / 1000)
      }
    val batch = graft.pipeline.EventAnalytics
      .cusumFrozen(events, daily, "event_type", 86400L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    // drop each key's LAST bucket: the stream's pending-bucket contract
    val lastPerKey = batch.keys.groupBy(_._1).map { case (k, bs) =>
      k -> bs.map(_._2).max }
    val closed = batch.filterNot { case ((k, b), _) => lastPerKey(k) == b }
    // in-order two-batch staging at the ts median
    val tsMedianUs = events.selectExpr("unix_micros(ts) AS us")
      .stat.approxQuantile("us", Array(0.5), 0.0)(0).toLong
    val streamDir = java.nio.file.Files.createTempDirectory("graft-cusum-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cusum-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(events.filter(expr(s"unix_micros(ts) <= ${tsMedianUs}L")),
      "a.parquet", 120000L)
    writeOne(events.filter(expr(s"unix_micros(ts) > ${tsMedianUs}L")),
      "b.parquet", 1000L)
    val stream = spark.readStream.schema(EventStreams.eventFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = EventStreams.cusumStream(
      graft.sources.Tables.normalizeEventTs(stream).as[EventStreams.Event],
      daily, 86400L)
      .writeStream.outputMode("append").format("memory")
      .queryName("cusum_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cusum_out")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(closed.nonEmpty && streamed == closed,
        "stream must equal the batch recursion on every closed bucket")
      assert(streamed.values.exists(_._3 == 1L) ||
        closed.values.forall(_._3 == 0L))
    } finally q.stop()
  }

  test("streaming TWAP == batch (last observation carried across batches)") {
    import spark.implicits._
    val clean = events.filter(col("ts").isNotNull && col("value").isNotNull)
    val batch = graft.pipeline.EventAnalytics.twap(clean, "event_type")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // in-order two-batch staging at the ts median: intervals MUST span
    // the boundary through the carried last observation
    val tsMedianUs = clean.selectExpr("unix_micros(ts) AS us")
      .stat.approxQuantile("us", Array(0.5), 0.0)(0).toLong
    val streamDir = java.nio.file.Files.createTempDirectory("graft-twap-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-twap-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(clean.filter(expr(s"unix_micros(ts) <= ${tsMedianUs}L")),
      "a.parquet", 120000L)
    writeOne(clean.filter(expr(s"unix_micros(ts) > ${tsMedianUs}L")),
      "b.parquet", 1000L)
    val stream = spark.readStream.schema(EventStreams.eventFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = EventStreams.twapStream(
      graft.sources.Tables.normalizeEventTs(stream).as[EventStreams.Event])
      .writeStream.outputMode("append").format("memory")
      .queryName("twap_out").start()
    try {
      q.processAllAvailable()
      // running emissions are monotone in n_intervals; the final (max-n)
      // row per key must equal the batch operator exactly
      val streamed = spark.table("twap_out").collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).maxBy(_._1) }
      assert(batch.nonEmpty && streamed == batch,
        "final streaming TWAP must equal the batch step integral per key")
      // and BOTH batches contributed (the split actually exercised state)
      assert(spark.table("twap_out").count() > batch.size,
        "expected per-batch emissions from both micro-batches")
    } finally q.stop()
  }

  test("streaming hash64 pairs == batch hash64Pairs over a two-batch media split") {
    import spark.implicits._
    // real perceptual fingerprints from the media containers, staged as
    // two id-ordered micro-batches: cross-batch pairs must come from the
    // carried bucket state
    val docs = graft.sources.Tables.table(spark, dir, "documents")
    val media = graft.pipeline.Multimodal.demoContainerTable(
      spark, docs, "doc_id", "text")
    val hashes = graft.pipeline.Multimodal.perceptualHashes(spark, media)
      .toDF().cache()
    val batchPairs = graft.pipeline.Dedup
      .hash64Pairs(hashes, "media_id", "format")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val median = hashes.stat.approxQuantile("media_id", Array(0.5), 0.0)(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-h64-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-h64-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(hashes.filter(col("media_id") <= median), "a.parquet", 120000L)
    writeOne(hashes.filter(col("media_id") > median), "b.parquet", 1000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("format",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("h0",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("h1",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.hash64PairsStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("h64_out").start()
    try {
      q.processAllAvailable()
      // per-chunk duplicate emissions collapse downstream, exactly as the
      // batch op's dropDuplicates
      val streamed = spark.table("h64_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(batchPairs.nonEmpty && streamed == batchPairs,
        s"stream diverged: missing ${batchPairs.keySet.diff(streamed.keySet).take(5)}, " +
          s"extra ${streamed.keySet.diff(batchPairs.keySet).take(5)}")
      // cross-batch coverage: at least one pair straddles the split
      assert(batchPairs.keys.exists { case (a, b) => a <= median && b > median },
        "fixture vacuous — no pair straddles the micro-batch boundary")
    } finally { q.stop(); hashes.unpersist() }
  }

  test("streaming preference leaderboard == batch (tallies merge across batches)") {
    import spark.implicits._
    // the leaderboard is a mergeable-sum aggregate + scalar Wilson math,
    // so the BATCH function runs unchanged on a streaming source in
    // complete mode — pin that contract across two micro-batches
    val rnd = new scala.util.Random(31)
    val pairs = (0 until 400).map { i =>
      val a = rnd.nextInt(9).toLong; val b = (a + 1 + rnd.nextInt(8)) % 9
      (i.toLong, a, b)
    }
    val df = pairs.toDF("i", "winner", "loser")
    val batch = graft.pipeline.Preference.leaderboard(df.select("winner", "loser"))
      .collect().map(_.toSeq).toSet
    val streamDir = java.nio.file.Files.createTempDirectory("graft-pref-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-pref-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(df.filter($"i" < 200).select("winner", "loser"), "a.parquet", 120000L)
    writeOne(df.filter($"i" >= 200).select("winner", "loser"), "b.parquet", 1000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("winner",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("loser",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = graft.pipeline.Preference.leaderboard(stream)
      .writeStream.outputMode("complete").format("memory")
      .queryName("pref_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pref_out").collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming hopping counts == batch twin; every event in 4 overlapping windows") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft-hop-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
    val q = EventStreams.hoppingCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hop_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hop_out")
        .select("window_start", "event_type", "n", "value_milli")
        .collect().map(_.toSeq).toSet
      val batchDf = EventStreams.hoppingCountsBatch(events)
      val batch = batchDf.collect().map(_.toSeq).toSet
      assert(streamed == batch && batch.nonEmpty)
      // membership invariant: Σ n over hopping windows = 4 × event count
      // (duration/slide = 4 overlapping memberships per event)
      val total = batchDf.agg(sum(col("n"))).head().getLong(0)
      assert(total == 4L * events.filter(col("ts").isNotNull).count())
    } finally q.stop()
  }

  test("streaming session counts == batch twin (native session_window)") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft-sess-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
    val q = EventStreams.sessionCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .select("session_start", "session_end", "user_id", "n", "value_milli")
        .collect().map(_.toSeq).toSet
      val batch = EventStreams.sessionCountsBatch(events)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("session_window exact-gap boundary: adjacent-touching sessions merge") {
    val gapUs = 30L * 60 * 1000000
    def mk(uss: Seq[Long]) = uss.zipWithIndex.map { case (u, i) =>
      (i.toLong, u, 7L, "click", 1.0)
    }.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts",
        when(col("us") < 0, lit(null)).otherwise(timestamp_micros(col("us"))))
    // an event at EXACTLY gap after the previous still MERGES (sessions
    // join while next.start <= current.end); one microsecond past splits
    assert(EventStreams.sessionCountsBatch(mk(Seq(0L, gapUs + 1))).count() === 2L)
    val one = EventStreams.sessionCountsBatch(mk(Seq(0L, gapUs)))
      .select(unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n")).collect()
    assert(one.length === 1)
    assert(one(0).getLong(0) === 0L)
    assert(one(0).getLong(1) === gapUs + gapUs) // end = last + gap
    assert(one(0).getLong(2) === 2L)
    // null-ts rows belong to no session (module contract)
    assert(EventStreams.sessionCountsBatch(mk(Seq(0L, -1L))).count() === 1L)
  }

  test("streaming exact dedup drops repeated payloads within the watermark") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
    // event_type has only 5 distinct values → dedup on it keeps exactly 5
    val q = graft.pipeline.Dedup.streamingExactDedup(stream, "event_type", "ts")
      .select("event_type")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 5)
    } finally q.stop()
  }

  test("stream-stream interval join == batch twin") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
    val q = EventStreams.errorClickJoin(stream)
      .writeStream.outputMode("append").format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_out").collect().map(_.toSeq).toSet
      val batch = EventStreams.errorClickJoinBatch(events).collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming grouped topX == batch topXAgg after one pass") {
    val ds = events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    // single-batch streaming state == batch top-N (ts in millis)
    val got = EventStreams.streamingTopX(ds, 3)
    // flatMapGroupsWithState requires a streaming source for incremental
    // execution, but executes fine on a static Dataset as one batch:
    val gotSet = got.collect().map(t => (t._1, t._2, t._3)).toSet
    val expect = graft.api.Gis.topXAgg(
      events.withColumn("ts_ms", expr("unix_micros(ts) div 1000")),
      "user_id", "ts_ms", "event_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSet == expect)
  }

  test("batch sessionization: partitions all events into disjoint sessions") {
    val sessions = EventStreams.sessionizeBatch(events, gapMs = 60 * 60 * 1000L)
    val total = sessions.agg(sum("n_events")).head.getLong(0)
    assert(total == events.count())
    // sessions are ordered and non-overlapping per user
    // schema: user_id, session_idx, n_events, first_ts, last_ts
    val perUser = sessions.collect().groupBy(_.getLong(0))
    perUser.values.foreach { ss =>
      val sorted = ss.sortBy(_.getLong(1)) // by session_idx
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(4) < b.getLong(3)) // last_ts < next first_ts
        case _ =>
      }
    }
  }

  test("salted sessionize == unsalted on real + skewed corpora, any bucket count") {
    // skewed: user 0 owns half the rows; ts dense enough that sessions span
    // bucket boundaries at every tested bucket count
    val skewed = spark.range(20000).select(
      col("id").as("event_id"),
      when(col("id") < 10000, 0L)
        .otherwise(pmod(hash(col("id")), lit(50)).cast("long")).as("user_id"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(hash(col("id"), lit(7)), lit(7200000L)) * 1000L).as("ts"))
    for (corpus <- Seq(events, skewed); gap <- Seq(60000L, 3600000L); b <- Seq(1, 3, 32)) {
      val plain = EventStreams.sessionizeBatch(corpus, gap)
        .collect().map(_.toSeq).toSet
      val salted = EventStreams.sessionizeBatchSalted(corpus, gap, buckets = b)
        .collect().map(_.toSeq).toSet
      assert(salted == plain, s"buckets=$b gap=$gap mismatch")
    }
    // caller-supplied tsRange (skips the span probe job) — exact range and
    // a loose superset both reproduce the unsalted output
    val plain = EventStreams.sessionizeBatch(skewed, 60000L).collect().map(_.toSeq).toSet
    val Array(mn, mx) = skewed.select(expr("unix_micros(ts) div 1000").as("t"))
      .agg(min($"t"), max($"t")).head.toSeq.map(_.asInstanceOf[Long]).toArray
    for (range <- Seq((mn, mx), (mn - 500000L, mx + 500000L))) {
      val got = EventStreams.sessionizeBatchSalted(skewed, 60000L, buckets = 8,
        tsRange = Some(range)).collect().map(_.toSeq).toSet
      assert(got == plain, s"tsRange=$range mismatch")
    }
  }

  test("salted asof join == unsalted on real + skewed corpora, any bucket count") {
    def prep(ev: org.apache.spark.sql.DataFrame) = {
      val e = ev.withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
      val errors = e.filter($"event_type" === "error")
        .select($"user_id", $"event_id", $"ts_ms")
      val clicks = e.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts_ms").agg(max($"event_id").as("event_id"))
      (errors, clicks)
    }
    val skewed = spark.range(20000).select(
      col("id").as("event_id"),
      when(col("id") < 10000, 0L)
        .otherwise(pmod(hash(col("id")), lit(50)).cast("long")).as("user_id"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(hash(col("id"), lit(7)), lit(7200000L)) * 1000L).as("ts"),
      when(pmod(col("id"), lit(5)) === 0, "error").otherwise("click").as("event_type"))
    for (corpus <- Seq(events, skewed); b <- Seq(1, 3, 32); inner <- Seq(true, false)) {
      val (errors, clicks) = prep(corpus)
      val plain = graft.api.AsofJoin.asofJoin(errors, clicks,
        keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
        rightPayload = Seq("event_id"), rightIdCol = "event_id", inner = inner)
        .collect().map(_.toSeq).toSet
      val salted = graft.api.AsofJoin.asofJoinSalted(errors, clicks,
        keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
        rightPayload = Seq("event_id"), rightIdCol = "event_id", inner = inner,
        buckets = b)
        .collect().map(_.toSeq).toSet
      assert(salted == plain, s"buckets=$b inner=$inner mismatch")
    }
    // caller-supplied subrange: out-of-range ts clamp into edge buckets
    val (errors, clicks) = prep(events)
    val plain = graft.api.AsofJoin.asofJoin(errors, clicks,
      keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
      rightPayload = Seq("event_id"), rightIdCol = "event_id")
      .collect().map(_.toSeq).toSet
    val mid = errors.agg(expr("percentile_approx(ts_ms, 0.5)")).head.getLong(0)
    val salted = graft.api.AsofJoin.asofJoinSalted(errors, clicks,
      keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
      rightPayload = Seq("event_id"), rightIdCol = "event_id",
      buckets = 8, tsRange = Some((mid - 1000, mid + 1000)))
      .collect().map(_.toSeq).toSet
    assert(salted == plain, "tsRange-clamped mismatch")
  }

  private def stageDocsDir(): String = {
    val streamDir = java.nio.file.Files.createTempDirectory("graft-docs-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("documents.parquet"))
    streamDir.toString
  }

  test("streaming deterministic sample == batch selection (stateless filter)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val stream = DocStreams.readDocStream(spark, stageDocsDir())
    val q = DocStreams.sampledStream(stream, 0.1).select("doc_id")
      .writeStream.outputMode("append").format("memory").queryName("samp_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("samp_out").collect().map(_.getLong(0)).toSet
      val batch = graft.pipeline.Sampling.deterministicFraction(docs, "doc_id", 0.1)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming contamination scan == batch twin (update-mode aggregate)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val probes = graft.gates.TextGates.ContaminationProbes
    val stream = DocStreams.readDocStream(spark, stageDocsDir())
    val q = DocStreams.contaminationStream(stream, probes)
      .writeStream.outputMode("complete").format("memory").queryName("cont_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cont_out").collect().map(_.toSeq).toSet
      val batch = graft.pipeline.TextAnalysis.contaminationProbes(docs, probes)
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming quality scores == batch twin (stateless projection)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val stream = DocStreams.readDocStream(spark, stageDocsDir())
    val q = DocStreams.qualityStream(stream)
      .select(col("doc_id"), round(col("quality_score") * 1000).cast("long").as("qm"))
      .writeStream.outputMode("append").format("memory").queryName("qual_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("qual_out").collect().map(_.toSeq).toSet
      val batch = graft.pipeline.TextAnalysis.withQualityScore(docs, "text")
        .select(col("doc_id"), round(col("quality_score") * 1000).cast("long").as("qm"))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming boilerplate + classifier + token chunking == batch twins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val st = graft.pipeline.TextAnalysis.bpeState(spark, graft.text.BpeFixture.merges)
    val clf = graft.pipeline.TextAnalysis.classifierState(spark,
      Array.tabulate(256)(i => (i % 9).toLong - 4L), bias = 1L)
    // composed stage: clean lines → score the cleaned text → chunk it,
    // all stateless — streaming must equal batch at any micro-batch split
    def stage(df: org.apache.spark.sql.DataFrame) = {
      // corpus lines lack terminal punctuation; close them so the
      // boilerplate pass keeps prose (same planting as the gate fixture)
      val page = df.withColumn("text",
        concat(col("text"), lit(".\nClick here to subscribe")))
      val cleaned = DocStreams.boilerplateStream(page)
        .select(col("doc_id"), col("cleaned").as("text"))
      graft.pipeline.TextAnalysis.chunkByTokens(
          DocStreams.classifierStream(cleaned, clf).filter(col("score") >= -1000L),
          st, maxTokens = 16L)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
    }
    val stream = DocStreams.readDocStream(spark, stageDocsDir())
    val q = stage(stream)
      .writeStream.outputMode("append").format("memory").queryName("curate_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("curate_out").collect().map(_.toSeq).toSet
      val batch = stage(docs).collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming heavy hitters == batch twin (sketch merges across batches)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def tokens(d: org.apache.spark.sql.DataFrame) =
      d.select(explode(split(trim(col("text")), "\\s+")).as("token"))
    // exact regime (capacity >= vocabulary): the merged sketch must equal
    // plain counts no matter how micro-batches split the stream
    val batch = graft.pipeline.TextAnalysis.heavyHitters(
      tokens(docs), col("token"), capacity = 256, k = 10)
      .collect().map(_.toSeq).toSet
    val stream = DocStreams.readDocStream(spark, stageDocsDir())
    val q = graft.pipeline.TextAnalysis.heavyHitters(
        tokens(stream), col("token"), capacity = 256, k = 10)
      .writeStream.outputMode("complete").format("memory").queryName("hh_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hh_out").collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("streaming BM25 scoring == batch twin (frozen model, bit-exact)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val terms = Seq("merge", "window", "table")
    val model = graft.pipeline.TextAnalysis.bm25Model(docs, terms)
    // batch reference: topN large enough to retrieve every matching doc
    val batch = graft.pipeline.TextAnalysis.bm25(docs, terms, topN = 1000000)
      .collect().map(_.toSeq).toSet
    val stream = DocStreams.readDocStream(spark, stageDocsDir())
    val q = DocStreams.bm25Stream(stream, model)
      .select(col("doc_id"), col("n_terms"), col("bm25"))
      .writeStream.outputMode("append").format("memory").queryName("bm25_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bm25_out").collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"stream ${streamed.size} rows vs batch ${batch.size}")
    } finally q.stop()
  }

  test("streaming chunking == batch twin (stateless generator)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val stream = DocStreams.readDocStream(spark, stageDocsDir())
    val q = graft.pipeline.TextAnalysis.chunk(stream, size = 128, stride = 96)
      .writeStream.outputMode("append").format("memory").queryName("chunk_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunk_out").collect().map(_.toSeq).toSet
      val batch = graft.pipeline.TextAnalysis.chunk(docs, size = 128, stride = 96)
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming packBudgeted == batch twin (stateful, across micro-batches)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = graft.pipeline.TextAnalysis.packBudgeted(docs,
      groupCols = Seq("source"), budgetTokens = 512L)
      .select("doc_id", "source", "n_tokens", "pack_id")
      .collect().map(_.toSeq).toSet

    // split at the doc_id median into two files; maxFilesPerTrigger=1
    // processes them as separate micro-batches (modification-time order),
    // so the running budget must survive in GroupState across the boundary
    val median = docs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-pack-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-pack-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(docs.filter(col("doc_id") <= median), "a.parquet", 120000L)
    writeOne(docs.filter(col("doc_id") > median), "b.parquet", 1000L)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.packBudgetedStream(stream, 512L)
      .writeStream.outputMode("append").format("memory").queryName("pack_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pack_out").collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch,
        "stateful streaming packing must equal the batch assignment on in-order arrival")
    } finally q.stop()

    // pluggable denominator: the BPE-budgeted stream must equal the
    // BPE-budgeted batch op the same way (the q_pack_bpe semantics)
    val st = graft.pipeline.TextAnalysis.bpeState(spark, graft.text.BpeFixture.merges)
    def bpeCount(t: org.apache.spark.sql.Column) =
      coalesce(graft.pipeline.TextAnalysis.tokenCountBpe(t, st), lit(0))
    val batchBpe = graft.pipeline.TextAnalysis.packBudgeted(docs,
      groupCols = Seq("source"), budgetTokens = 512L, tokenCount = bpeCount)
      .select("doc_id", "source", "n_tokens", "pack_id")
      .collect().map(_.toSeq).toSet
    val stream2 = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q2 = DocStreams.packBudgetedStream(stream2, 512L, tokenCount = bpeCount)
      .writeStream.outputMode("append").format("memory").queryName("pack_bpe_out").start()
    try {
      q2.processAllAvailable()
      val streamed2 = spark.table("pack_bpe_out").collect().map(_.toSeq).toSet
      assert(streamed2 == batchBpe && batchBpe != batch,
        "BPE-budgeted stream must equal BPE-budgeted batch (and differ from ws)")
    } finally q2.stop()
  }

  test("streaming simhash near-dup pairs == batch twin (stateful, cross-batch)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = graft.pipeline.Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(batch.nonEmpty, "fixture needs natural simhash near-dups")

    // median split + maxFilesPerTrigger=1: a pair whose members arrive in
    // DIFFERENT micro-batches is only found if the first member's simhash
    // survived in bucket state
    val median = docs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    val crossBatch = batch.exists { case (a, b, _) => a <= median && b > median }
    val streamDir = java.nio.file.Files.createTempDirectory("graft-simhash-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-simhash-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(docs.filter(col("doc_id") <= median), "a.parquet", 120000L)
    writeOne(docs.filter(col("doc_id") > median), "b.parquet", 1000L)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.simhashPairsStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("sh_out").start()
    try {
      q.processAllAvailable()
      // per-chunk duplicate emissions collapse downstream, as in batch
      val streamed = spark.table("sh_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"streaming pairs (${streamed.size}) != batch (${batch.size}); crossBatch=$crossBatch")
    } finally q.stop()
  }

  test("streaming minhash LSH near-dup pairs == batch twin (stateful, cross-batch)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // generous cap on both sides: batch drops over-cap buckets wholesale
    // while streaming keeps the first arrivals — equality needs caps unhit
    val batch = graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text",
        threshold = 0.8, maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture needs natural minhash near-dups")

    val median = docs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    val crossBatch = batch.exists { case (a, b, _) => a <= median && b > median }
    val streamDir = java.nio.file.Files.createTempDirectory("graft-minhash-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-minhash-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(docs.filter(col("doc_id") <= median), "a.parquet", 120000L)
    writeOne(docs.filter(col("doc_id") > median), "b.parquet", 1000L)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.minhashPairsStream(stream, docs, threshold = 0.8,
        maxBucket = 100000)
      .writeStream.outputMode("append").format("memory").queryName("mh_out").start()
    try {
      q.processAllAvailable()
      // per-band duplicate emissions collapse downstream, as in batch
      val streamed = spark.table("mh_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"streaming pairs (${streamed.size}) != batch (${batch.size}); crossBatch=$crossBatch")
    } finally q.stop()
  }

  test("streaming incremental dedup vs persisted index == batch twin (stateless)") {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val batchDocs = corpus.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft-idx-stream").toString
    graft.pipeline.Dedup.writeMinhashIndex(corpus, idxDir)
    val batch = graft.pipeline.Dedup.dedupAgainstIndex(spark, idxDir,
        batchDocs, corpus, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture needs cross-set near-dups")

    val median = batchDocs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-inc-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-inc-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(batchDocs.filter(col("doc_id") <= median), "a.parquet", 120000L)
    writeOne(batchDocs.filter(col("doc_id") > median), "b.parquet", 1000L)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.dedupAgainstIndexStream(stream, idxDir, corpus, threshold = 0.7)
      .writeStream.outputMode("append").format("memory").queryName("inc_out").start()
    try {
      q.processAllAvailable()
      // per-band duplicate emissions collapse downstream, as in batch
      val streamed = spark.table("inc_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"streaming pairs (${streamed.size}) != batch (${batch.size})")
    } finally q.stop()
  }

  test("minhash stream surfaceMissingTexts: stale-lake pairs surface as NULL, not vanish") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text",
        threshold = 0.8, maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    // lake is missing one side of a known duplicate pair
    val missing = batch.head._2
    val staleLake = docs.filter(col("doc_id") =!= missing)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-missing-stream")
    val tmp = java.nio.file.Files.createTempDirectory("graft-missing-part").toFile
    docs.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(streamDir.toFile, "a.parquet").toPath)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .parquet(streamDir.toString)
    val q = DocStreams.minhashPairsStream(stream, staleLake, threshold = 0.8,
        maxBucket = 100000, surfaceMissingTexts = true)
      .writeStream.outputMode("append").format("memory").queryName("miss_out").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("miss_out").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.isNullAt(2)))
      val nullPairs = rows.filter(_._2).map(_._1).toSet
      assert(nullPairs.exists { case (a, b) => a == missing || b == missing },
        s"pair with un-landed doc $missing must surface with NULL jaccard")
      // verified pairs (non-null) are exactly the batch pairs not touching
      // the missing doc
      val okPairs = rows.filterNot(_._2).map(_._1).toSet
      assert(okPairs == batch.filter { case (a, b) => a != missing && b != missing })
    } finally q.stop()
  }

  test("streaming EXACT ngram-Jaccard pairs == batch twin (stateful, cross-batch)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // generous caps both sides (equality needs caps unhit); the batch op's
    // candidates rank prefixes by corpus df, the stream by gram hash — the
    // VERIFIED outputs must still agree exactly
    val batch = graft.pipeline.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.8, maxBucket = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture needs natural exact near-dups")

    val median = docs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    val crossBatch = batch.exists { case (a, b, _) => a <= median && b > median }
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ngram-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ngram-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(docs.filter(col("doc_id") <= median), "a.parquet", 120000L)
    writeOne(docs.filter(col("doc_id") > median), "b.parquet", 1000L)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.ngramPairsStream(stream, docs, threshold = 0.8,
        maxBucket = 100000)
      .writeStream.outputMode("append").format("memory").queryName("ng_out").start()
    try {
      q.processAllAvailable()
      // per-gram duplicate emissions collapse downstream, as in batch
      val streamed = spark.table("ng_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"streaming pairs (${streamed.size}) != batch (${batch.size}); crossBatch=$crossBatch")
    } finally q.stop()
  }

  test("streaming n-gram decontamination == batch twin (cross-batch counts)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val batch = graft.pipeline.TextAnalysis.contaminationNgrams(train, evalDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture needs shared eval n-grams")

    val median = train.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-contam-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-contam-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(train.filter(col("doc_id") <= median), "a.parquet", 120000L)
    writeOne(train.filter(col("doc_id") > median), "b.parquet", 1000L)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.contaminationNgramsStream(stream, evalDocs)
      .writeStream.outputMode("complete").format("memory")
      .queryName("contam_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("contam_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming perplexity buckets (frozen thresholds) == batch ntile on distinct scores") {
    import org.apache.spark.sql.DataFrame
    // distinct scores per group → the boundary-tie caveat cannot fire
    val scored = (0 until 30).map(i => (i.toLong, if (i % 2 == 0) "en" else "de", (i * 7 % 31).toLong))
      .toDF("doc_id", "lang", "mean_centibits")
    val thresholds = graft.pipeline.Curation.perplexityThresholds(scored)
    val batch = graft.pipeline.Curation.perplexityBuckets(scored)
      .select("doc_id", "bucket", "bucket_label")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ccnet-stream")
    scored.coalesce(1).write.mode("overwrite").parquet(streamDir.toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("mean_centibits", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
    val q = DocStreams.perplexityBucketsStream(stream, thresholds)
      .select("doc_id", "bucket", "bucket_label")
      .writeStream.outputMode("append").format("memory")
      .queryName("ccnet_out").start()
    val got =
      try {
        q.processAllAvailable()
        spark.table("ccnet_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      } finally q.stop()
    assert(got == batch)
    // out-of-range scores land in the catch-all tail bucket
    val probe = Seq((99L, "en", 10000L)).toDF("doc_id", "lang", "mean_centibits")
    val tail = DocStreams.perplexityBucketsStream(probe, thresholds)
      .select("bucket", "bucket_label").head()
    assert(tail.getLong(0) == 3L && tail.getString(1) == "tail")
    // unknown group: dropped (no percentiles to score against)
    val unk = Seq((100L, "xx", 5L)).toDF("doc_id", "lang", "mean_centibits")
    assert(DocStreams.perplexityBucketsStream(unk, thresholds).count() == 0)
  }

  test("streaming sentence-span decision twin == batch removals under id-ordered arrival") {
    import org.apache.spark.sql.DataFrame
    val fixture = Seq[(Long, String)](
      (1L, "Intro one. Shared sent a. Shared sent b. Shared sent c. Outro one."),
      (2L, "Other intro. Shared sent a. Shared sent b. Shared sent c. Outro two."),
      (5L, "Late doc. Shared sent a. Shared sent b. Shared sent c. Late outro."))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-senttwin-stream")
    def writeOne(d: DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-senttwin-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(fixture.filter(col("doc_id") <= 2), "a.parquet", 120000L)
    writeOne(fixture.filter(col("doc_id") >= 5), "b.parquet", 1000L)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.sentenceSpanDropsStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("senttwin_out").start()
    val dropStarts =
      try {
        q.processAllAvailable()
        spark.table("senttwin_out").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
      } finally q.stop()
    // expand starts to covered sentences and compare against the batch op
    val covered = dropStarts.flatMap { case (id, p) => (p until p + 3).map(id -> _) }
      .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).toSet }
    val batch = graft.pipeline.Dedup.dedupSentenceSpans(fixture)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
    batch.foreach { case (id, _, nRemoved) =>
      assert(covered.get(id).map(_.size.toLong).getOrElse(0L) == nRemoved,
        s"doc $id: stream covers ${covered.get(id)} vs batch removed $nRemoved")
    }
    // docs 2 and 5 each lose the shared span; doc 1 (global keeper) loses none
    assert(!covered.contains(1L) && covered(2L).size == 3 && covered(5L).size == 3)
  }

  test("streaming dedupLines decision twin == batch drops under id-ordered arrival") {
    import org.apache.spark.sql.DataFrame
    val fixture = Seq[(Long, String)](
      (1L, "common boilerplate header\nunique body of doc one"),
      (2L, "common boilerplate header\nunique body of doc two\ncommon boilerplate header"),
      (5L, "unique body of doc five\nsecond-wave shared line"),
      (8L, "second-wave shared line\ncommon boilerplate header\nunique body of doc eight"),
      (9L, "short\nunique body of doc nine"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-linetwin-stream")
    def writeOne(d: DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-linetwin-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    // id-ordered waves: the contract under which stream drops == batch drops
    writeOne(fixture.filter(col("doc_id") <= 2), "a.parquet", 120000L)
    writeOne(fixture.filter(col("doc_id") >= 5), "b.parquet", 1000L)
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.dedupLinesStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("linetwin_out").start()
    val got =
      try {
        q.processAllAvailable()
        spark.table("linetwin_out").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
      } finally q.stop()
    // batch decision table: every eligible occurrence except the (id, pos)-min
    val lines = fixture
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "ln")))
      .filter(length(trim(col("ln"))) >= 10)
      .select(col("doc_id"), col("pos"), md5(col("ln")).as("dg"))
    val first = lines.groupBy("dg").agg(min(struct(col("doc_id"), col("pos"))).as("k"))
    val want = lines.join(first, "dg")
      .filter(!(col("doc_id") === col("k.doc_id") && col("pos") === col("k.pos")))
      .select("doc_id", "pos").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want)
    // the fixture exercises within-batch, within-doc, and CROSS-BATCH dups
    assert(want.contains((2L, 0)) && want.contains((2L, 2)) &&
      want.contains((8L, 0)) && want.contains((8L, 1)))
    // short lines never enter the decision stream
    assert(!got.exists { case (id, pos) => id == 9L && pos == 0 })
  }

  test("streaming dedupLines: redelivered keeper row is never dropped as its own dup") {
    import org.apache.spark.sql.DataFrame
    // a file-source redelivery (reprocessed file, checkpoint rebuild) must
    // not emit the keeper as a drop of itself — that would delete the last
    // surviving copy downstream
    val doc = Seq[(Long, String)]((1L, "shared keeper line of doc one\nunique body of doc one"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dup = Seq[(Long, String)]((3L, "shared keeper line of doc one\nunique body of doc three"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-redeliver-stream")
    def writeOne(d: DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-redeliver-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(doc, "a.parquet", 120000L)   // establishes keeper (1, 0)
    writeOne(dup, "b.parquet", 60000L)    // real dup: (3, 0) drops
    writeOne(doc, "c.parquet", 1000L)     // keeper's own row redelivered
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.dedupLinesStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("redeliver_out").start()
    val got =
      try {
        q.processAllAvailable()
        spark.table("redeliver_out").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
      } finally q.stop()
    assert(got.contains((3L, 0)), s"true dup must drop: $got")
    assert(!got.contains((1L, 0)), s"keeper must survive its own redelivery: $got")
  }

  test("streaming incremental LINE dedup (foreachBatch) == batch twin, cross-batch") {
    import org.apache.spark.sql.DataFrame
    // corpus ids < batch1 ids < batch2 ids: the id-ordered-arrival contract
    // under which foreachBatch-incremental equals the from-scratch pass
    val fixture = Seq[(Long, String)](
      (1L, "common boilerplate header\nunique body of doc one"),
      (2L, "common boilerplate header\nunique body of doc two"),
      (5L, "unique body of doc five\ncommon boilerplate header\nbatch-only shared line"),
      (6L, "batch-only shared line\nunique body of doc six"),
      (8L, "batch-only shared line\nunique body of doc eight\nsecond-wave shared line"),
      (9L, "second-wave shared line\nunique body of doc nine"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val corpus = fixture.filter(col("doc_id") <= 2)
    val b1 = fixture.filter(col("doc_id") >= 5 && col("doc_id") <= 6)
    val b2 = fixture.filter(col("doc_id") >= 8)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-line-idx-stream").toString
    graft.pipeline.Dedup.writeLineIndex(corpus, idxDir)

    val streamDir = java.nio.file.Files.createTempDirectory("graft-lines-stream")
    def writeOne(d: DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-lines-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    writeOne(b1, "a.parquet", 120000L)
    writeOne(b2, "b.parquet", 1000L)

    val out = scala.collection.mutable.Map[Long, (Option[String], Long)]()
    var seen: DataFrame = corpus
    val stream = spark.readStream.schema(DocStreams.docFileSchema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cleaned = graft.pipeline.Dedup
          .dedupLinesAgainstIndex(spark, idxDir, batch).collect()
        out.synchronized {
          cleaned.foreach(r =>
            out(r.getLong(0)) = (Option(r.getString(1)), r.getLong(2)))
        }
        // fold the arrived batch into the index before the next one (a
        // micro-batch DF is only valid within its batch — materialize it)
        val rows = batch.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        val local = spark.createDataFrame(rows.toSeq).toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("t"))
          .withColumn("n_chars", length(col("text")).cast("long"))
        seen = seen.unionByName(local)
        graft.pipeline.Dedup.writeLineIndex(seen, idxDir)
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    val full = graft.pipeline.Dedup.dedupLines(fixture).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2)))).toMap
    assert(out.toMap == full.filter(_._1 >= 5),
      s"streamed=$out batch=${full.filter(_._1 >= 5)}")
    // the cross-batch case actually fired: b2's duplicate of b1's
    // batch-only line was dropped via the index update between batches
    assert(out(8L)._2 >= 1L)
  }

  test("stateful sessionization emits closed sessions") {
    val ds = events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    // run through the batch-equivalent semantics by feeding all events at once:
    // a single batch means sessions stay open unless gaps occur inside it.
    val gap = 60 * 60 * 1000L
    val sessionsBatch = EventStreams.sessionizeBatch(events, gap)
    val closedInBatch = sessionsBatch.count() - events.select("user_id").distinct().count()
    assert(closedInBatch >= 0) // structural sanity: >= 0 sessions closed mid-stream
    assert(ds.count() == events.count())
  }

  test("streaming throttle == batch throttle across two time-ordered batches") {
    // time-split waves satisfy the arrival contract (per-key event time
    // non-decreasing ACROSS batches); within a batch order is arbitrary
    val mid = events.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .head.getLong(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-throttle-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-throttle-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    val raw = spark.read.parquet(s"$dir/events.parquet")
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) <= $mid")),
      "a.parquet", 120000L)
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) > $mid")),
      "b.parquet", 1000L)
    val gapMs = 12L * 3600 * 1000
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val q = EventStreams.throttleStream(stream, gapMs)
      .writeStream.outputMode("append").format("memory")
      .queryName("throttle_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("throttle_out")
        .collect().map(_.toSeq).toSet
      val batch = graft.pipeline.EventAnalytics.throttle(events, gapMs)
        .select($"user_id", $"event_type", $"event_id", $"ts_us")
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
      // discrimination: the gap actually drops something
      assert(batch.size < events.count())
    } finally q.stop()
  }

  test("streaming decayed counts == batch trajectory rows across two batches") {
    val mid = events.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .head.getLong(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-decay-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-decay-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    val raw = spark.read.parquet(s"$dir/events.parquet")
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) <= $mid")),
      "a.parquet", 120000L)
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) > $mid")),
      "b.parquet", 1000L)
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val q = EventStreams.decayedCountsStream(stream, alphaPermille = 900)
      .writeStream.outputMode("append").format("memory")
      .queryName("decay_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("decay_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // every emitted state row must equal the FULL batch trajectory's
      // (key, period, decayed) row at that period — for the final batch
      // this holds directly (all events ≤ the key's last period have
      // arrived); for the mid-stream emission it holds because the time
      // split puts every event of earlier periods into the first batch
      val batch = graft.pipeline.EventAnalytics.decayedCounts(
        events, "event_type", alphaPermille = 900)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(streamed.nonEmpty)
      // two batches → up to 2 emissions per key
      streamed.foreach { case (k, p, s) =>
        assert(batch((k, p)) == s, s"key $k period $p")
      }
      // the final emission per key is the key's LAST event period — its
      // batch row at that exact period
      val finalPer = streamed.groupBy(_._1).map { case (k, xs) =>
        k -> xs.map(_._2).max }
      val lastEvent = events.filter($"ts".isNotNull)
        .groupBy($"event_type")
        .agg(expr("max(unix_micros(ts) div 86400000000)").as("p"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(finalPer == lastEvent)
    } finally q.stop()
  }

  test("streaming windowed-funnel conversions == batch across two batches") {
    val steps = Seq("view", "click", "purchase")
    val windowMs = 7L * 86400 * 1000
    val mid = events.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .head.getLong(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-fw-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-fw-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    val raw = spark.read.parquet(s"$dir/events.parquet").filter($"value" >= 80)
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) <= $mid")),
      "a.parquet", 120000L)
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) > $mid")),
      "b.parquet", 1000L)
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val q = EventStreams.funnelWindowStream(stream, steps, windowMs)
      .writeStream.outputMode("append").format("memory")
      .queryName("fw_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("fw_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.pipeline.EventAnalytics
        .funnelWindow(events.filter($"value" >= 80), steps, windowMs)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      assert(streamed.keySet == batch.filter(_._2._1 == 1L).keySet)
      streamed.foreach { case (u, t) => assert(batch(u)._2.contains(t)) }
      // both outcomes genuinely occur on this fixture
      assert(batch.values.exists(_._1 == 1L) && batch.values.exists(_._1 == 0L))
    } finally q.stop()
  }

  test("streaming transition pairs == batch lag pairs across two batches") {
    val mid = events.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .head.getLong(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-trans-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-trans-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    val raw = spark.read.parquet(s"$dir/events.parquet")
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) <= $mid")),
      "a.parquet", 120000L)
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) > $mid")),
      "b.parquet", 1000L)
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val q = EventStreams.transitionsStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_out").start()
    try {
      q.processAllAvailable()
      // aggregate the emitted pair stream → must equal the batch report's
      // (prev, next, n) counts (the cross-batch boundary pair included)
      val streamed = spark.table("trans_out")
        .groupBy($"prev_type", $"event_type").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val batch = graft.pipeline.EventAnalytics.transitions(events)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming funnel advances == batch funnel across two time-ordered batches") {
    val steps = Seq("view", "click", "purchase")
    val mid = events.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .head.getLong(0)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-funnel-stream")
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-funnel-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    // thinned like the gate so partial stages actually occur
    val raw = spark.read.parquet(s"$dir/events.parquet")
      .filter($"value" >= 50)
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) <= $mid")),
      "a.parquet", 120000L)
    writeOne(raw.filter(expr(s"unix_micros(cast(ts as timestamp)) > $mid")),
      "b.parquet", 1000L)
    val stream = EventStreams.readEventStream(spark, streamDir.toString)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val q = EventStreams.funnelStream(stream, steps)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    try {
      q.processAllAvailable()
      // advances: user -> stage -> ts_us (each stage emitted at most once)
      val adv = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(adv.map(a => (a._1, a._2)).distinct.length == adv.length,
        "a stage was emitted twice for one user")
      val byUser = adv.groupBy(_._1)
      val batch = graft.pipeline.EventAnalytics
        .funnel(events.filter($"value" >= 50), steps)
        .collect().map { r =>
          r.getLong(0) -> (r.getLong(1),
            (1 to 3).map(i => if (r.isNullAt(i + 1)) None
                              else Some(r.getLong(i + 1))))
        }.toMap
      // users with advances = batch users at stage >= 1; times must match
      assert(byUser.keySet == batch.filter(_._2._1 >= 1).keySet)
      byUser.foreach { case (u, as) =>
        val (stage, ts) = batch(u)
        assert(as.map(_._2).max == stage, s"user $u stage")
        as.foreach { case (_, s, t) => assert(ts(s - 1).contains(t), s"user $u ts_$s") }
      }
      // discrimination: some user stops short of the last stage
      assert(batch.values.exists(_._1 < 3))
      assert(batch.values.exists(_._1 == 3))
    } finally q.stop()
  }

  test("streaming rolling anomalies == batch over a two-batch split (cross-batch frames)") {
    import org.apache.spark.sql.DataFrame
    // spiky dense series for 3 keys; split by period so trailing frames
    // SPAN the batch boundary — the GroupState ring is what's under test
    val rnd = new scala.util.Random(9)
    val series = for (u <- 0L until 3L; p <- 0L until 24L) yield
      (u, p, if (p % 11 == 5) 60L + rnd.nextInt(20) else rnd.nextInt(8).toLong)
    val df = series.toDF("user_id", "period", "x")
    val batch = graft.pipeline.EventAnalytics.rollingAnomalies(
        df, k = 2, window = 7, minPeriods = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(batch.values.exists(_._5 == 1L), "fixture must flag something")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-anom-stream")
    def writeOne(d: DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-anom-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    // boundary at period 10: every frame for periods 10..16 crosses it
    writeOne(df.filter(col("period") < 10), "a.parquet", 120000L)
    writeOne(df.filter(col("period") >= 10), "b.parquet", 1000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("period", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      .as[EventStreams.SeriesPoint]
    val q = EventStreams.rollingAnomaliesStream(stream, k = 2, window = 7,
        minPeriods = 4)
      .writeStream.outputMode("append").format("memory")
      .queryName("anom_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("anom_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
        .toMap
      assert(streamed == batch)
    } finally q.stop()
  }
  test("streaming text keep-list == batch textKeepList over the union (split files)") {
    // the text family's near-dup keep-list twin: two document files arrive
    // as separate micro-batches; the persisted-state fold (index probe +
    // batch-internal pairs + clustersIncremental) must end at exactly the
    // batch keep-list over the union — keeper, cluster and singleton
    // semantics included. Tag-prefixed copies are planted so real near-dup
    // pairs straddle the file boundary.
    val docs = graft.sources.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val copies = docs.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("replica 1 "), col("text")).as("text"), col("n_chars"))
    val union = docs.unionByName(copies).filter(col("text").isNotNull).cache()
    val streamDir = java.nio.file.Files.createTempDirectory("graft-kl-stream")
    val work = java.nio.file.Files.createTempDirectory("graft-kl-state").toString
    def writeOne(d: org.apache.spark.sql.DataFrame, name: String, ageMs: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-kl-part").toFile
      d.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir.toFile, name)
      java.nio.file.Files.copy(part.toPath, dest.toPath)
      assert(dest.setLastModified(System.currentTimeMillis() - ageMs))
    }
    // originals land first, the copy wave second: every planted pair
    // straddles the micro-batch boundary (file age orders ingestion;
    // maxFilesPerTrigger 1 forces two batches)
    writeOne(union.filter(col("doc_id") < 1000000L), "a.parquet", 120000L)
    writeOne(union.filter(col("doc_id") >= 1000000L), "b.parquet", 60000L)
    val stream = spark.readStream.schema(
        "doc_id LONG, text STRING, n_chars LONG")
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val q = DocStreams.textKeepListStream(stream, work)
    try q.processAllAvailable() finally q.stop()
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    val streamed = asMap(DocStreams.textKeepListResult(spark, work))
    val batch = asMap(graft.pipeline.Dedup.textKeepList(
      union, "doc_id", "text", "n_chars"))
    assert(streamed == batch,
      s"stream keep-list diverged: extra=${streamed.toSeq.diff(batch.toSeq).take(5)} " +
        s"missing=${batch.toSeq.diff(streamed.toSeq).take(5)}")
    // fixture teeth: at least one non-singleton cluster straddles the split
    assert(batch.exists { case (id, (cl, _, _)) => id >= 1000000L && cl < 1000000L },
      "fixture vacuous - no cross-batch cluster")
    union.unpersist()
  }

}
