package graft.streaming

import graft.SparkTestBase
import graft.pipeline.EventAnalytics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Batch tests of the session and asof-join paths over the events table.
 * The Structured Streaming twins this spec used to compare them against
 * are retired; the batch tests keep the suite names they have always
 * been tracked under.
 */
class EventStreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  lazy val events = graft.sources.Tables.table(spark, dir, "events").cache()

  test("session_window exact-gap boundary: adjacent-touching sessions merge") {
    val gapUs = 30L * 60 * 1000000
    def mk(uss: Seq[Long]) = uss.zipWithIndex.map { case (u, i) =>
      (i.toLong, u, 7L, "click", 1.0)
    }.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts",
        when(col("us") < 0, lit(null)).otherwise(timestamp_micros(col("us"))))
    // an event at EXACTLY gap after the previous still MERGES (sessions
    // join while next.start <= current.end); one microsecond past splits
    assert(EventAnalytics.sessionCounts(mk(Seq(0L, gapUs + 1))).count() === 2L)
    val one = EventAnalytics.sessionCounts(mk(Seq(0L, gapUs)))
      .select(unix_micros(col("session_start")),
        unix_micros(col("session_end")), col("n")).collect()
    assert(one.length === 1)
    assert(one(0).getLong(0) === 0L)
    assert(one(0).getLong(1) === gapUs + gapUs) // end = last + gap
    assert(one(0).getLong(2) === 2L)
    // null-ts rows belong to no session (module contract)
    assert(EventAnalytics.sessionCounts(mk(Seq(0L, -1L))).count() === 1L)
  }

  test("batch sessionization: partitions all events into disjoint sessions") {
    val sessions = EventAnalytics.sessionize(events, gapMs = 60 * 60 * 1000L)
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
      val plain = EventAnalytics.sessionize(corpus, gap)
        .collect().map(_.toSeq).toSet
      val salted = EventAnalytics.sessionizeSalted(corpus, gap, buckets = b)
        .collect().map(_.toSeq).toSet
      assert(salted == plain, s"buckets=$b gap=$gap mismatch")
    }
    // caller-supplied tsRange (skips the span probe job) — exact range and
    // a loose superset both reproduce the unsalted output
    val plain = EventAnalytics.sessionize(skewed, 60000L).collect().map(_.toSeq).toSet
    val Array(mn, mx) = skewed.select(expr("unix_micros(ts) div 1000").as("t"))
      .agg(min($"t"), max($"t")).head.toSeq.map(_.asInstanceOf[Long]).toArray
    for (range <- Seq((mn, mx), (mn - 500000L, mx + 500000L))) {
      val got = EventAnalytics.sessionizeSalted(skewed, 60000L, buckets = 8,
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
}
