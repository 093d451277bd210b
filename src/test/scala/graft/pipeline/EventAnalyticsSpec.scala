package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Differential net for the event-sequence operators: every operator is
 * replayed by an independent from-scratch Scala implementation on
 * collision-rich random data (tiny timestamp domains force exact-tie
 * paths), across seeds and partitionings.
 */
class EventAnalyticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** (event_id, ts_us, user_id, event_type) → events DataFrame with a real
    * timestamp column; ts_us domain is small so equal-ts ties are common. */
  private def mkEvents(rows: Seq[(Long, Long, Long, String)]): DataFrame =
    rows.toDF("event_id", "ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select("event_id", "ts", "user_id", "event_type")

  private def randEvents(seed: Int, n: Int, users: Int, tsMax: Int,
                         types: Seq[String]): Seq[(Long, Long, Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, rnd.nextInt(tsMax).toLong,
      rnd.nextInt(users).toLong, types(rnd.nextInt(types.size))))
  }

  // ---- funnel ----

  /** Chained-min brute force: t_i = min ts of step i strictly after t_{i-1}. */
  private def bruteFunnel(rows: Seq[(Long, Long, Long, String)],
                          steps: Seq[String]): Map[Long, Seq[Option[Long]]] = {
    val byUser = rows.filter(r => steps.contains(r._4)).groupBy(_._3)
    byUser.map { case (u, evs) =>
      var prev = Option.empty[Long]
      val done = steps.zipWithIndex.map { case (s, i) =>
        val cand = evs.filter(_._4 == s)
          .filter(e => if (i == 0) true else prev.exists(p => e._2 > p))
          .map(_._2)
        val t = if (i > 0 && prev.isEmpty) None
                else if (cand.isEmpty) None else Some(cand.min)
        prev = t
        t
      }
      u -> done
    }
  }

  test("funnel == chained-min brute force across seeds (tie-rich)") {
    val steps = Seq("a", "b", "c")
    for (seed <- 1 to 5) {
      val rows = randEvents(seed, 400, 12, 30, Seq("a", "b", "c", "x"))
      val got = EventAnalytics.funnel(mkEvents(rows), steps)
        .collect().map { r =>
          r.getLong(0) -> ((1 to 3).map(i =>
            if (r.isNullAt(i + 1)) None else Some(r.getLong(i + 1))),
            r.getLong(1))
        }.toMap
      val want = bruteFunnel(rows, steps)
      assert(got.keySet == want.keySet, s"seed $seed user set")
      want.foreach { case (u, done) =>
        val (ts, stage) = got(u)
        assert(ts == done, s"seed $seed user $u")
        assert(stage == done.count(_.isDefined), s"seed $seed user $u stage")
      }
    }
  }

  test("funnel stage counts are prefix-monotone and single-step works") {
    val rows = randEvents(7, 300, 10, 25, Seq("a", "b", "x"))
    val one = EventAnalytics.funnel(mkEvents(rows), Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = bruteFunnel(rows, Seq("a"))
    assert(one == want.map { case (u, d) => u -> d.count(_.isDefined).toLong })
  }

  // ---- windowed funnel ----

  /** Exhaustive chain search: min completion time over all strictly
    * position-increasing chains whose span fits the window. */
  private def bruteWindowConv(evs: IndexedSeq[(Long, Int)], k: Int,
                              w: Long): Option[Long] = {
    def go(from: Int, step: Int, start: Long): Option[Long] = {
      var best = Option.empty[Long]
      var i = from
      while (i < evs.length) {
        val (t, s) = evs(i)
        if (s == step && (step == 0 || t - start <= w)) {
          val st = if (step == 0) t else start
          val r = if (step == k - 1) Some(t) else go(i + 1, step + 1, st)
          if (r.isDefined && best.forall(_ > r.get)) best = r
        }
        i += 1
      }
      best
    }
    go(0, 0, 0L)
  }

  test("funnelWindow == exhaustive chain search across seeds and windows") {
    val steps = Seq("a", "b", "c")
    for (seed <- 1 to 5; w <- Seq(3L, 8L, 100L)) {
      val rows = randEvents(seed * 29, 350, 10, 40, Seq("a", "b", "c", "x"))
      // operator takes ms (windowUs = w*1000); rows carry raw micros, so
      // feed micro-scaled events to keep the arithmetic aligned
      val gotUs = EventAnalytics.funnelWindow(
        mkEvents(rows.map(r => (r._1, r._2 * 1000, r._3, r._4))), steps, w)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      val want = rows.filter(r => steps.contains(r._4)).groupBy(_._3)
        .map { case (u, es) =>
          val sorted = es.sortBy(e => (e._2, e._1))
            .map(e => (e._2 * 1000, steps.indexOf(e._4))).toIndexedSeq
          val conv = bruteWindowConv(sorted, steps.size, w * 1000)
          u -> (if (conv.isDefined) 1L else 0L, conv)
        }
      assert(gotUs == want, s"seed $seed w $w")
    }
  }

  test("funnelWindow finds the late anchor the greedy earliest-anchor misses") {
    // view@0, click@5, purchase@100, view@90, click@95, purchase@99 would
    // need anchor re-selection... canonical case: earliest view times out,
    // a later view converts
    val rows = Seq(
      (1L, 0L, 1L, "a"), (2L, 5000000L, 1L, "b"), // early anchor, b at 5s
      (3L, 50000000L, 1L, "a"), // late anchor at 50s
      (4L, 52000000L, 1L, "b"), (5L, 54000000L, 1L, "c")) // chain in 4s
    val out = EventAnalytics.funnelWindow(mkEvents(rows), Seq("a", "b", "c"),
      windowMs = 10000L) // 10s window: chain 3→4→5 fits, 1→2→5 does not
    val r = out.head()
    assert(r.getLong(1) == 1L && r.getLong(2) == 54000000L)
    // plain funnel's earliest-anchor chain would also complete here (it
    // has no window), so pin the distinction: shrink the window below the
    // late chain's span and conversion disappears
    val none = EventAnalytics.funnelWindow(mkEvents(rows), Seq("a", "b", "c"),
      windowMs = 3000L).head()
    assert(none.getLong(1) == 0L && none.isNullAt(2))
  }

  test("null-ts events are ignored, not folded (regression)") {
    // pre-fix failure modes this pins closed: a null-ts step-1 event
    // permanently occupied the funnel slot as NULL (user stuck at stage 0
    // with a null ts_1 while the chained-min oracle ignores nulls), and a
    // null-ts first event was "kept" by throttle with a null timestamp,
    // poisoning the last-kept anchor so every later event was dropped
    val rows = Seq(
      // (event_id, ts_us or null, user_id, type)
      (1L, Option.empty[Long], 7L, "a"), // null ts, would fold FIRST
      (2L, Option(100L), 7L, "a"),
      (3L, Option(200L), 7L, "b"))
    val df = rows.toDF("event_id", "ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select("event_id", "ts", "user_id", "event_type")
    val f = EventAnalytics.funnel(df, Seq("a", "b")).collect()
    assert(f.length == 1 && f.head.getLong(1) == 2 &&
      f.head.getLong(2) == 100L && f.head.getLong(3) == 200L)
    val t = EventAnalytics.throttle(df, minGapMs = 0L)
      .collect().map(_.getLong(2)).toSet
    assert(t == Set(2L, 3L), s"null-ts event must not be kept or anchor: $t")
    val tr = EventAnalytics.transitions(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(tr == Set(("a", "b")))
    val ret = EventAnalytics.retention(df, periodDays = 1).collect()
    assert(ret.length == 1 && ret.head.getLong(2) == 1)
  }

  // ---- throttle ----

  private def bruteThrottle(rows: Seq[(Long, Long, Long, String)],
                            gapUs: Long): Set[(Long, String, Long, Long)] =
    rows.groupBy(r => (r._3, r._4)).flatMap { case ((u, t), evs) =>
      var last = -1L
      evs.sortBy(e => (e._2, e._1)).flatMap { e =>
        if (last == -1L || e._2 - last >= gapUs) {
          last = e._2
          Some((u, t, e._1, e._2))
        } else None
      }
    }.toSet

  test("throttle == serial replay across seeds and gaps (incl. gap 0)") {
    for (seed <- 1 to 4; gapUs <- Seq(0L, 3L, 10L)) {
      val rows = randEvents(seed * 31, 500, 8, 40, Seq("a", "b"))
      // operator takes ms; build micros-equivalent by scaling the domain
      val scaled = rows.map(r => (r._1, r._2 * 1000, r._3, r._4))
      val got = EventAnalytics.throttle(mkEvents(scaled), minGapMs = gapUs)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      val want = bruteThrottle(scaled, gapUs * 1000)
      assert(got == want, s"seed $seed gap $gapUs")
      if (gapUs == 0) assert(got.size == rows.size, "gap 0 keeps everything")
    }
  }

  test("throttle is partition-invariant") {
    val rows = randEvents(99, 600, 6, 50, Seq("a", "b", "c"))
    val df = mkEvents(rows)
    val a = EventAnalytics.throttle(df, 5L).collect().map(_.toSeq).toSet
    val b = EventAnalytics.throttle(df.repartition(13), 5L)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  // ---- retention ----

  test("retention == brute force on random activity") {
    for (seed <- 1 to 3) {
      val rows = randEvents(seed * 7, 500, 15, 100, Seq("a"))
      // periodDays=1 → periodUs = 86400e6; scale ts to land in ~4 periods
      val periodUs = 86400L * 1000000L
      val scaled = rows.map(r => (r._1, r._2 * (4 * periodUs / 100), r._3, r._4))
      val got = EventAnalytics.retention(mkEvents(scaled), periodDays = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val periods = scaled.map(r => (r._3, r._2 / periodUs)).distinct
      val cohort = periods.groupBy(_._1).map { case (u, ps) => u -> ps.map(_._2).min }
      val want = periods.groupBy(p => (cohort(p._1), p._2 - cohort(p._1)))
        .map { case (k, v) => k -> v.size.toLong }
      assert(got == want, s"seed $seed")
    }
  }

  // ---- gap fill ----

  test("gapFill == brute spine+ffill replay; guard trips on huge spans") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 37)
      val periodUs = 86400L * 1000000L
      // sparse activity over ~12 periods → real gaps
      val rows = (0 until 120).map { i =>
        (i.toLong, rnd.nextInt(12).toLong * periodUs + rnd.nextInt(1000).toLong,
          rnd.nextInt(6).toLong, "a")
      }
      val df = mkEvents(rows).withColumn("value",
        (col("event_id") % 7).cast("double"))
      val got = EventAnalytics.gapFill(df, periodDays = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val cells = rows.groupBy(r => (r._3, r._2 / periodUs))
        .map { case (k, v) => k ->
          (v.size.toLong, v.map(e => (e._1 % 7) * 1000).sum)
        }
      val want = cells.keys.groupBy(_._1).flatMap { case (u, ks) =>
        val lo = ks.map(_._2).min; val hi = ks.map(_._2).max
        var lastSeen = 0L
        (lo to hi).map { p =>
          cells.get((u, p)) match {
            case Some((n, vm)) =>
              lastSeen = vm
              (u, p) -> (n, vm, lastSeen, 0L)
            case None =>
              (u, p) -> (0L, 0L, lastSeen, 1L)
          }
        }
      }
      assert(got == want, s"seed $seed")
      assert(got.values.exists(_._4 == 1L), s"seed $seed needs gaps")
    }
    // corrupt timestamp → named error, not a 10^6-row spine
    val bad = mkEvents(Seq((1L, 0L, 1L, "a"),
      (2L, 400000L * 86400L * 1000000L, 1L, "a")))
      .withColumn("value", lit(1.0))
    val e = intercept[Exception](
      EventAnalytics.gapFill(bad, periodDays = 1).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("corrupt timestamps")), e.toString)
  }

  // ---- rolling anomalies ----

  test("rollingAnomalies == brute window replay; spike flags, flat doesn't") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 43)
      val series = (0 until 5).flatMap { u =>
        (0 until 40).map { p =>
          val base = 10L + rnd.nextInt(5)
          val x = if (rnd.nextInt(12) == 0) base + 200 else base // spikes
          (u.toLong, p.toLong, x)
        }
      }
      val got = EventAnalytics.rollingAnomalies(
        series.toDF("user_id", "period", "x"), k = 2, window = 7,
        minPeriods = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      val want = series.groupBy(_._1).flatMap { case (u, rows) =>
        val xs = rows.sortBy(_._2).map(_._3).toIndexedSeq
        xs.indices.map { i =>
          val wnd = xs.slice(math.max(0, i - 6), i + 1)
          val n = wnd.size.toLong
          val s = wnd.sum
          val s2 = wnd.map(v => v * v).sum
          val dev2 = (n * xs(i) - s) * (n * xs(i) - s)
          val bound = 4 * (n * s2 - s * s)
          (u, i.toLong) -> (n, dev2, bound,
            if (n >= 4 && dev2 > bound) 1L else 0L)
        }
      }
      assert(got == want, s"seed $seed")
      assert(got.values.exists(_._4 == 1L), s"seed $seed needs anomalies")
      assert(got.values.count(_._4 == 1L) < series.size / 4,
        s"seed $seed flags too much")
    }
    // a perfectly flat series never flags (σ = 0 and dev = 0)
    val flat = (0L until 20L).map(p => (1L, p, 5L))
    assert(EventAnalytics.rollingAnomalies(
      flat.toDF("user_id", "period", "x"), 2, 7, 4)
      .collect().forall(_.getLong(6) == 0L))
  }

  test("rollingAnomalies drops null x rows (module null contract)") {
    // a null x must neither appear in the output nor inflate n_window for
    // the rows whose trailing frame contains it
    val rnd = new scala.util.Random(3)
    val vals = (0L until 25L).map(p => (1L, p, rnd.nextInt(100).toLong))
    val withNulls = vals.map { case (u, p, x) =>
      (u, p, if (p % 7 == 3) Option.empty[Long] else Some(x))
    }
    val got = EventAnalytics.rollingAnomalies(
      withNulls.toDF("user_id", "period", "x"), 2, 7, 4).collect()
    val clean = EventAnalytics.rollingAnomalies(
      withNulls.filter(_._3.isDefined)
        .map { case (u, p, x) => (u, p, x.get) }
        .toDF("user_id", "period", "x"), 2, 7, 4).collect()
    assert(got.map(_.toSeq).toSet == clean.map(_.toSeq).toSet)
    assert(got.forall(!_.isNullAt(2)))
  }

  // ---- transitions ----

  test("transitions == lag replay with integer permille") {
    for (seed <- 1 to 3) {
      val rows = randEvents(seed * 13, 400, 9, 35, Seq("a", "b", "c"))
      val got = EventAnalytics.transitions(mkEvents(rows))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val pairs = rows.groupBy(_._3).toSeq.flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._2, e._1))
        sorted.zip(sorted.drop(1)).map { case (p, c) => (p._4, c._4) }
      }
      val n = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val tot = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val want = n.map { case (k, c) => k -> (c, c * 1000 / tot(k._1)) }
      assert(got == want, s"seed $seed")
      got.groupBy(_._1._1).foreach { case (_, out) =>
        assert(out.values.map(_._2).sum <= 1000)
      }
    }
  }

  // ---- pagerank ----

  private def brutePagerank(edges: Seq[(Long, Long)], iters: Int,
                            d: Int, scale: Long): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inflow = e.groupBy(_._2).map { case (v, in) =>
        v -> in.map { case (u, _) => r(u) / outdeg(u) }.sum
      }
      r = nodes.map(v =>
        v -> (((1000 - d) * scale + d * inflow.getOrElse(v, 0L)) / 1000)).toMap
    }
    r
  }

  test("pagerankInt == integer replica on random graphs with dangling nodes") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 17)
      // sinks exist: dst domain is wider than src domain
      val edges = (0 until 120).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(30).toLong))
      val got = Graph.pagerankInt(edges.toDF("src", "dst"), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = brutePagerank(edges, 3, 850, 1000000L)
      assert(got == want, s"seed $seed")
    }
  }

  test("pagerankInt long chains survive the checkpoint cadence") {
    val rnd = new scala.util.Random(5)
    val edges = (0 until 60).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val got = Graph.pagerankInt(edges.toDF("src", "dst"), iters = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brutePagerank(edges, 9, 850, 1000000L))
  }

  test("assumeDistinct on an already-distinct edge list changes nothing") {
    val rnd = new scala.util.Random(23)
    val edges = (0 until 100).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong)).distinct
    val df = edges.toDF("src", "dst")
    val a = Graph.pagerankInt(df, 2).collect().map(_.toSeq).toSet
    val b = Graph.pagerankInt(df, 2, assumeDistinct = true)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("pagerankInt is partition-invariant and rejects bad params") {
    val edges = (0L to 40L).map(i => (i % 7, (i * 3) % 7)).toDF("src", "dst")
    val a = Graph.pagerankInt(edges, 2).collect().map(_.toSeq).toSet
    val b = Graph.pagerankInt(edges.repartition(11), 2).collect().map(_.toSeq).toSet
    assert(a == b)
    // null endpoints are dropped, not phantom nodes
    val withNull = Seq((Option(1L), Option(2L)), (Option(2L), Option(1L)),
      (Option(3L), Option.empty[Long]), (Option.empty[Long], Option(4L)))
      .toDF("src", "dst")
    val nodes = Graph.pagerankInt(withNull, 1).collect().map(_.getLong(0)).toSet
    assert(nodes == Set(1L, 2L))
    intercept[IllegalArgumentException](Graph.pagerankInt(edges, -1))
    intercept[IllegalArgumentException](Graph.pagerankInt(edges, 1, dampingPermille = 1001))
  }

  test("triangleCounts == brute enumeration; orientation/duplicate/self-loop hygiene") {
    def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val s = adj.toSet
      val nodes = adj.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val tris = for {
        x <- nodes; y <- nodes if x < y && s((x, y))
        z <- nodes if y < z && s((y, z)) && s((x, z))
      } yield (x, y, z)
      tris.flatMap { case (a, b, c) => Seq(a, b, c) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    }
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 53)
      // duplicates, both orientations, and self-loops all present
      val edges = (0 until 200).map(_ =>
        (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      val want = brute(edges)
      assert(want.nonEmpty, s"seed $seed fixture must close triangles")
      val got = Graph.triangleCounts(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed")
    }
    // K4: every node in C(3,2)=3 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = Graph.triangleCounts(k4.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle-free (bipartite): empty result
    val bip = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L))
    assert(Graph.triangleCounts(bip.toDF("src", "dst")).count() == 0)
    // partition-invariant (the orientation rank is a total order, so no
    // tie resolution can depend on physical layout)
    val rnd2 = new scala.util.Random(4)
    val re = (0 until 180).map(_ =>
      (rnd2.nextInt(13).toLong, rnd2.nextInt(13).toLong)).toDF("src", "dst")
    val p1 = Graph.triangleCounts(re).collect().map(_.toSeq).toSet
    val p2 = Graph.triangleCounts(re.repartition(11)).collect().map(_.toSeq).toSet
    assert(p1 == p2 && p1.nonEmpty)
  }

  test("clusteringCoefficients == brute; K4 fully closed; path graph fully open") {
    def brute(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] = {
      val adj = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val s = adj.toSet
      val nodes = adj.flatMap(e => Seq(e._1, e._2)).distinct
      val deg = nodes.map(n => n -> adj.count(e => e._1 == n || e._2 == n).toLong).toMap
      val tri = nodes.map { n =>
        val nb = adj.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }
        n -> (for (x <- nb; y <- nb if x < y && s((x, y))) yield 1).size.toLong
      }.toMap
      nodes.filter(deg(_) >= 2).map(n =>
        n -> (deg(n), tri(n), 2000L * tri(n) / (deg(n) * (deg(n) - 1)))).toMap
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 67)
      val edges = (0 until 160).map(_ =>
        (rnd.nextInt(13).toLong, rnd.nextInt(13).toLong))
      val got = Graph.clusteringCoefficients(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == brute(edges), s"seed $seed")
    }
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(Graph.clusteringCoefficients(k4.toDF("src", "dst"))
      .collect().forall(_.getLong(3) == 1000L))
    // a path graph has degree-2 interior nodes with zero closure
    val path = (0L until 5L).map(i => (i, i + 1))
    val coeffs = Graph.clusteringCoefficients(path.toDF("src", "dst")).collect()
    assert(coeffs.length == 4 && coeffs.forall(_.getLong(3) == 0L))
  }

  /** Brute PageRank with the equal-share dangling redistribution term:
    * inflow(v) += (Σ_{outdeg(u)=0} r(u)) div n, same integer truncation. */
  private def bruteDangling(edges: Seq[(Long, Long)], iters: Int,
                            d: Int, scale: Long): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = nodes.size.toLong
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filter(v => !outdeg.contains(v)).map(r).sum
      val share = dm / n
      val inflow = e.groupBy(_._2).map { case (v, in) =>
        v -> in.map { case (u, _) => r(u) / outdeg(u) }.sum
      }
      r = nodes.map(v =>
        v -> (((1000 - d) * scale +
          d * (inflow.getOrElse(v, 0L) + share)) / 1000)).toMap
    }
    r
  }

  test("pagerankInt redistributeDangling == integer replica; mass returns to the graph") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 31)
      // dst domain wider than src domain → real dangling sinks exist
      val edges = (0 until 120).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(30).toLong))
      val got = Graph.pagerankInt(edges.toDF("src", "dst"), iters = 3,
          redistributeDangling = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteDangling(edges, 3, 850, 1000000L), s"seed $seed")
      // redistribution must beat the drop-mass variant in conserved total:
      // the dropped variant leaks the sinks' outflow every round
      val dropped = brutePagerank(edges, 3, 850, 1000000L)
      assert(got.values.sum > dropped.values.sum, s"seed $seed")
    }
  }

  /** Brute weighted PageRank: duplicate (src, dst) weights sum, flow
    * splits (r·w) div Σw, same damping blend. */
  private def bruteWeighted(edges: Seq[(Long, Long, Long)], iters: Int,
                            d: Int, scale: Long): Map[Long, Long] = {
    val e = edges.filter(_._3 > 0)
      .groupBy(t => (t._1, t._2))
      .map { case ((s, t), v) => (s, t, v.map(_._3).sum) }.toSeq
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val wsum = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inflow = e.groupBy(_._2).map { case (v, in) =>
        v -> in.map { case (u, _, w) => r(u) * w / wsum(u) }.sum
      }
      r = nodes.map(v =>
        v -> (((1000 - d) * scale + d * inflow.getOrElse(v, 0L)) / 1000)).toMap
    }
    r
  }

  test("weighted pagerank == integer replica; weight-1 edges reproduce unweighted exactly") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 43)
      // duplicate (src, dst) pairs occur and must SUM; zero/negative
      // weights are dropped edges
      val edges = (0 until 150).map(_ => (rnd.nextInt(15).toLong,
        rnd.nextInt(20).toLong, (rnd.nextInt(7) - 1).toLong))
      val got = Graph.pagerankInt(edges.toDF("src", "dst", "w"), iters = 3,
          weightCol = Some("w"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteWeighted(edges, 3, 850, 1000000L), s"seed $seed")
    }
    // w = 1 everywhere ⇒ Σw = outdeg and (r·1) div Σw = r div outdeg:
    // bit-identical to the unweighted operator (distinct edges)
    val rnd = new scala.util.Random(3)
    val plain = (0 until 90).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong)).distinct
    val unweighted = Graph.pagerankInt(plain.toDF("src", "dst"), 2)
      .collect().map(_.toSeq).toSet
    val ones = Graph.pagerankInt(
      plain.map { case (s, t) => (s, t, 1L) }.toDF("src", "dst", "w"), 2,
      weightCol = Some("w")).collect().map(_.toSeq).toSet
    assert(unweighted == ones)
  }

  test("weighted pagerank drops fractional weights in (0,1) instead of minting zero-weight edges") {
    // a DOUBLE weight 0.5 passes a pre-cast `> 0` filter but truncates to
    // 0 on the long cast — pre-r8 that minted a zero-weight edge whose
    // owner had wsum = 0 (ANSI DIVIDE_BY_ZERO in the flow split) and was
    // wrongly non-dangling; post-cast filtering treats it like any other
    // non-positive weight: the edge is dropped
    val frac = Seq((1L, 2L, 1.0), (1L, 3L, 0.5), (4L, 5L, 2.0),
      (6L, 7L, 0.5)).toDF("src", "dst", "w") // node 6's ONLY edge is fractional
    val cleaned = Seq((1L, 2L, 1L), (4L, 5L, 2L)).toDF("src", "dst", "w")
    for (redistribute <- Seq(false, true)) {
      // dropped-edge semantics: (1,3,0.5) and (6,7,0.5) vanish entirely —
      // including their nodes — so the result is bit-identical to running
      // on the integer-only edge list (pre-r8 this faulted with
      // DIVIDE_BY_ZERO on node 6's wsum=0 under ANSI)
      val got = Graph.pagerankInt(frac, iters = 3, weightCol = Some("w"),
        redistributeDangling = redistribute).collect().map(_.toSeq).toSet
      val cleanedGot = Graph.pagerankInt(cleaned, iters = 3,
        weightCol = Some("w"), redistributeDangling = redistribute,
        assumeDistinct = true).collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got == cleanedGot,
        s"fractional-weight edges must behave exactly like dropped edges (redistribute=$redistribute)")
    }
  }

  // seeded (personalized) replica: init = scale·[v∈S], teleport base lands
  // only on seeds, dangling mass (when redistributed) returns uniformly
  // to the seed set
  private def bruteSeeded(edges: Seq[(Long, Long)], seeds: Set[Long],
                          iters: Int, d: Int, scale: Long,
                          redistribute: Boolean): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val s = seeds.intersect(nodes.toSet)
    var r = nodes.map(v => v -> (if (s(v)) scale else 0L)).toMap
    for (_ <- 1 to iters) {
      val inflow = e.groupBy(_._2).map { case (v, in) =>
        v -> in.map { case (u, _) => r(u) / outdeg(u) }.sum
      }
      val dm = if (redistribute)
        nodes.filterNot(outdeg.contains).map(r).sum else 0L
      val share = if (redistribute) dm / s.size else 0L
      r = nodes.map { v =>
        val base = if (s(v)) (1000L - d) * scale else 0L
        val fl = inflow.getOrElse(v, 0L) + (if (s(v)) share else 0L)
        v -> ((base + d * fl) / 1000)
      }.toMap
    }
    r
  }

  test("seeded pagerank == integer replica; seeds=all reproduces standard exactly") {
    for (seed <- 1 to 3; redistribute <- Seq(false, true)) {
      val rnd = new scala.util.Random(seed * 29)
      val edges = (0 until 120).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(30).toLong))
      val seedSet = (0 until 6).map(_ => rnd.nextInt(20).toLong).toSet
      val got = Graph.pagerankInt(edges.toDF("src", "dst"), iters = 3,
          redistributeDangling = redistribute,
          seeds = Some(seedSet.toSeq.toDF("node")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = bruteSeeded(edges, seedSet, 3, 850, 1000000L, redistribute)
      assert(got == want, s"seed $seed redistribute=$redistribute")
      // non-seeds far from the seed neighborhood must rank below seeds'
      // teleport floor — sanity that personalization actually binds
      assert(got.nonEmpty)
    }
    // seeds = every node ⇒ bit-identical to the uniform-teleport operator
    val rnd = new scala.util.Random(31)
    val edges = (0 until 100).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
    val allNodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    for (redistribute <- Seq(false, true)) {
      val std = Graph.pagerankInt(edges.toDF("src", "dst"), iters = 3,
        redistributeDangling = redistribute).collect().map(_.toSeq).toSet
      val seeded = Graph.pagerankInt(edges.toDF("src", "dst"), iters = 3,
        redistributeDangling = redistribute,
        seeds = Some(allNodes.toDF("node"))).collect().map(_.toSeq).toSet
      assert(std == seeded, s"seeds=all must equal standard (redistribute=$redistribute)")
    }
    // redistributeDangling with zero seeds inside the graph throws
    intercept[IllegalArgumentException] {
      Graph.pagerankInt(edges.toDF("src", "dst"), iters = 1,
        redistributeDangling = true,
        seeds = Some(Seq(999L).toDF("node"))).collect()
    }
  }

  // ---- label propagation ----

  private def bruteLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val canon = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter { case (a, b) => a < b }.distinct
    val nodes = (canon.map(_._1) ++ canon.map(_._2)).distinct
    val adj = canon.flatMap { case (a, b) => Seq((a, b), (b, a)) } ++
      nodes.map(v => (v, v))
    var lab = nodes.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lab = adj.groupBy(_._1).map { case (v, nbrs) =>
        val votes = nbrs.map { case (_, u) => lab(u) }
          .groupBy(identity).map { case (l, xs) => l -> xs.size }
        // max count, then min label — the deterministic tie-break
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  test("labelPropagation == integer replica; partition-invariant; cliques collapse") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 37)
      val edges = (0 until 100).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      val df = edges.toDF("src", "dst")
      val got = Graph.labelPropagation(df, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteLpa(edges, 3), s"seed $seed")
      val reparted = Graph.labelPropagation(df.repartition(11), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reparted == got, s"seed $seed not partition-invariant")
    }
    // two disjoint triangles: each collapses to its min node id
    val twoTri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
    val communities = Graph.labelPropagation(twoTri.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(communities == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  // canonical-graph community rollup + Newman-Girvan modularity replica;
  // Long division in the replica truncates toward zero exactly like
  // Spark's `div`
  private def bruteCommunity(edges: Seq[(Long, Long)], labels: Map[Long, Long])
      : (Map[Long, (Long, Long, Long)], (Long, Long)) = {
    val canon = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
      .filter { case (a, b) => a < b }.distinct
    val deg = (canon.map(_._1) ++ canon.map(_._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    // keep members a Seq: a Set here would collapse EQUAL DEGREE VALUES
    // in the map-then-sum below
    val byC = deg.keys.toSeq.filter(labels.contains).groupBy(labels)
    val stats = byC.map { case (c, members) =>
      val ms = members.toSet
      val intra = canon.count { case (a, b) =>
        ms(a) && ms(b) && labels(a) == labels(b) }
      c -> (members.size.toLong, members.map(deg).sum, intra.toLong)
    }
    val m = canon.size.toLong
    val num = stats.values.map { case (_, ds, ie) => 4 * m * ie - ds * ds }.sum
    val q = if (m == 0) 0L else 1000 * num / (4 * m * m)
    (stats, (m, q))
  }

  test("communityStats + modularityPermille == brute; negative-Q fixture hits div truncation") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 41)
      val edges = (0 until 90).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val labels = bruteLpa(edges, 2)
      val labDf = labels.toSeq.toDF("node", "community")
      val (wantStats, (wantM, wantQ)) = bruteCommunity(edges, labels)
      val gotStats = Graph.communityStats(edges.toDF("src", "dst"), labDf)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(gotStats == wantStats, s"seed $seed stats")
      val qRow = Graph.modularityPermille(edges.toDF("src", "dst"), labDf).head()
      assert((qRow.getLong(0), qRow.getLong(1)) == (wantM, wantQ), s"seed $seed Q")
    }
    // cross-cutting labels on a path: zero intra edges ⇒ NEGATIVE Q —
    // exercises the truncate-toward-zero side where DuckDB's floor //
    // would differ (the oracle carries the sign-split CASE for this)
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val parity = Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L)
    val (_, (m, wantQ)) = bruteCommunity(path, parity)
    val row = Graph.modularityPermille(path.toDF("src", "dst"),
      parity.toSeq.toDF("node", "community")).head()
    assert(wantQ < 0, "fixture must produce negative modularity")
    assert((row.getLong(0), row.getLong(1)) == (m, wantQ))
    // LPA communities on two clean triangles score far above the
    // cross-cut partition (sanity: Q orders partitions as it should)
    val twoTri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
    val lpaQ = Graph.modularityPermille(twoTri.toDF("src", "dst"),
      Graph.labelPropagation(twoTri.toDF("src", "dst"), 3)).head().getLong(1)
    assert(lpaQ == 500L, s"two disjoint triangles under their own labels: Q = 1/2, got $lpaQ")
  }

  // ---- HITS ----

  private def bruteHits(edges: Seq[(Long, Long)], iters: Int,
                        scale: Long): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val ar = e.groupBy(_._2).map { case (v, in) =>
        v -> in.map(x => hub(x._1)).sum }
      val am = if (ar.isEmpty) 0L else ar.values.max
      auth = nodes.map(v =>
        v -> (if (am == 0) 0L else ar.getOrElse(v, 0L) * scale / am)).toMap
      val hr = e.groupBy(_._1).map { case (u, out) =>
        u -> out.map(x => auth(x._2)).sum }
      val hm = if (hr.isEmpty) 0L else hr.values.max
      hub = nodes.map(v =>
        v -> (if (hm == 0) 0L else hr.getOrElse(v, 0L) * scale / hm)).toMap
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  test("hitsInt == integer replica on random directed graphs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 31)
      val edges = (0 until 150).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(25).toLong))
      val got = Graph.hitsInt(edges.toDF("src", "dst"), iters = 3)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(got == bruteHits(edges, 3, 1000000L), s"seed $seed")
    }
  }

  test("hitsInt star golden: spokes are pure hubs, the center a pure authority") {
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    val got = Graph.hitsInt(edges, iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(0L) == ((0L, 1000000L)))
    Seq(1L, 2L, 3L).foreach(v => assert(got(v) == ((1000000L, 0L))))
  }

  test("hitsInt: checkpoint cadence, partition invariance, validation") {
    val rnd = new scala.util.Random(13)
    val edges = (0 until 80).map(_ =>
      (rnd.nextInt(10).toLong, rnd.nextInt(12).toLong))
    val df = edges.toDF("src", "dst")
    // 9 rounds crosses four cadence-2 materialization boundaries (2,4,6,8)
    val got9 = Graph.hitsInt(df, iters = 9).collect().map(_.toSeq).toSet
    assert(got9 ==
      bruteHits(edges, 9, 1000000L).map { case (n, (h, a)) => Seq(n, h, a) }.toSet)
    val a = Graph.hitsInt(df.repartition(7), iters = 2)
      .collect().map(_.toSeq).toSet
    val b = Graph.hitsInt(df, iters = 2).collect().map(_.toSeq).toSet
    assert(a == b)
    // assumeDistinct on an already-distinct list changes nothing
    val dd = edges.distinct.toDF("src", "dst")
    assert(Graph.hitsInt(dd, 2).collect().map(_.toSeq).toSet ==
      Graph.hitsInt(dd, 2, assumeDistinct = true).collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException](Graph.hitsInt(df, iters = 0))
    intercept[IllegalArgumentException](Graph.hitsInt(df, iters = 1, scale = 0L))
  }

  // ---- interval merge ----

  private def bruteMerge(iv: Seq[(Long, Long, Long)])
      : Set[(Long, Long, Long, Long)] =
    iv.groupBy(_._1).flatMap { case (k, xs) =>
      val sorted = xs.map(x => (x._2, x._3)).sorted
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      for ((s, e) <- sorted) {
        if (out.nonEmpty && s <= out.last._2) {
          val l = out.last
          out(out.size - 1) = (l._1, math.max(l._2, e), l._3 + 1)
        } else out += ((s, e, 1L))
      }
      out.map(o => (k, o._1, o._2, o._3))
    }.toSet

  private def runMerge(iv: Seq[(Long, Long, Long)]) =
    EventAnalytics.mergeIntervals(iv.toDF("k", "s", "e"), "k", "s", "e")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("mergeIntervals == serial sweep replica on random interval sets") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 23)
      val iv = (0 until 400).map { _ =>
        val s = rnd.nextInt(500).toLong
        (rnd.nextInt(6).toLong, s, s + rnd.nextInt(40).toLong)
      }
      assert(runMerge(iv) == bruteMerge(iv), s"seed $seed")
    }
  }

  test("mergeIntervals: touching merges, +1 gap splits, nesting absorbs") {
    // [0,5) + [5,9) touch -> one span; [20,25) is separate; [21,23) nests
    val iv = Seq((1L, 0L, 5L), (1L, 5L, 9L), (1L, 20L, 25L), (1L, 21L, 23L),
      (1L, 26L, 30L))
    assert(runMerge(iv) == Set((1L, 0L, 9L, 2L), (1L, 20L, 25L, 2L),
      (1L, 26L, 30L, 1L)))
    // zero-length interval [7,7) inside coverage counts as merged
    assert(runMerge(Seq((2L, 0L, 10L), (2L, 7L, 7L))) ==
      Set((2L, 0L, 10L, 2L)))
  }

  test("mergeIntervals: null contract, inverted-interval guard, partition invariance") {
    val df = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 0L, 5L), (null, 9L, 12L), (1L, null, 12L), (1L, 14L, null))
      .toDF("k", "s", "e")
    val got = EventAnalytics.mergeIntervals(df, "k", "s", "e").collect()
    assert(got.length == 1 && got(0).getLong(1) == 0L && got(0).getLong(2) == 5L)
    val bad = Seq((1L, 10L, 3L)).toDF("k", "s", "e")
    val ex = intercept[Exception](
      EventAnalytics.mergeIntervals(bad, "k", "s", "e").collect())
    assert(ex.getMessage.contains("inverted interval"))
    val rnd = new scala.util.Random(9)
    val iv = (0 until 300).map { _ =>
      val s = rnd.nextInt(400).toLong
      (rnd.nextInt(4).toLong, s, s + rnd.nextInt(30).toLong)
    }
    assert(EventAnalytics.mergeIntervals(iv.toDF("k", "s", "e").repartition(11),
      "k", "s", "e").collect().map(_.toSeq).toSet ==
      runMerge(iv).map(t => Seq(t._1, t._2, t._3, t._4)))
  }

  // ---- k-core ----

  private def bruteKcore(edges: Seq[(Long, Long)], k: Int,
                         iters: Int): Map[Long, Long] = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    def degs(av: Set[Long]): Map[Long, Long] = {
      val m = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      canon.foreach { case (a, b) =>
        if (av(a) && av(b)) { m(a) += 1; m(b) += 1 } }
      m.toMap.withDefaultValue(0L)
    }
    var alive = (canon.map(_._1) ++ canon.map(_._2)).distinct.toSet
    for (_ <- 1 to iters) {
      val d = degs(alive)
      alive = alive.filter(v => d(v) >= k)
    }
    val fd = degs(alive)
    alive.map(v => v -> fd(v)).toMap
  }

  test("kcore == brute peel replica on random graphs across seeds and k") {
    for (seed <- 1 to 3; k <- Seq(2, 3)) {
      val rnd = new scala.util.Random(seed * 17 + k)
      val edges = (0 until 120).map(_ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      val got = Graph.kcore(edges.toDF("src", "dst"), k = k, iters = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteKcore(edges, k, 5), s"seed $seed k $k")
    }
  }

  test("kcore path cascade: a 12-path peels from the ends, 6 rounds to empty") {
    val path = (0L until 11L).map(i => (i, i + 1))
    val df = path.toDF("src", "dst")
    // each round removes the two current endpoints: 12 -> 10 -> ... -> 0;
    // iters=5 crosses the i=4 checkpoint boundary mid-cascade
    assert(Graph.kcore(df, k = 2, iters = 5).count() === 2L)
    assert(Graph.kcore(df, k = 2, iters = 6).count() === 0L)
    val (core, rounds) = Graph.kcoreConverged(df, k = 2)
    assert(core.count() === 0L && rounds === 7) // 6 peels + confirming no-op
  }

  test("kcore cycle is its own 2-core; converged == fixed past the depth") {
    val cycle = (0L until 8L).map(i => (i, (i + 1) % 8))
    val df = cycle.toDF("src", "dst")
    val got = Graph.kcore(df, k = 2, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 8L).map(_ -> 2L).toMap)
    val (conv, rounds) = Graph.kcoreConverged(df, k = 2)
    assert(rounds === 1) // first peel removes nothing
    assert(conv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == got)
  }

  test("kcore: zero-neighbor survivors, partition invariance, validation") {
    // two triangles joined by a bridge: at k=2 the first peel removes
    // nothing (every node has degree >= 2); at k=3 the triangle leaves
    // peel first and the bridge endpoints cascade after them
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (0L, 3L))
    val df = tri.toDF("src", "dst")
    assert(Graph.kcore(df, k = 3, iters = 3).count() === 0L)
    val a = Graph.kcore(df.repartition(5), k = 2, iters = 3)
      .collect().map(_.toSeq).toSet
    val b = Graph.kcore(df, k = 2, iters = 3).collect().map(_.toSeq).toSet
    assert(a == b && a == bruteKcore(tri, 2, 3)
      .map { case (n, d) => Seq(n, d) }.toSet)
    intercept[IllegalArgumentException](Graph.kcore(df, k = 0, iters = 1))
    intercept[IllegalArgumentException](Graph.kcore(df, k = 1, iters = 0))
    intercept[IllegalArgumentException](Graph.kcoreConverged(df, k = 1, maxIters = 0))
    // cap-throw: the 12-path at k=2 needs 6 peel rounds, cap at 2 throws
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException](
      Graph.kcoreConverged(path, k = 2, maxIters = 2))
  }

  // ------------------------------------------------------ BFS distances

  private def bruteBfs(edges: Seq[(Long, Long)], seeds: Set[Long],
                       rounds: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.toSet
    var dist = seeds.intersect(nodes).map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val offers = e.flatMap { case (s, d) => dist.get(s).map(x => d -> (x + 1)) }
      dist = (dist.toSeq ++ offers).groupBy(_._1)
        .map { case (n, xs) => n -> xs.map(_._2).min }
    }
    dist
  }

  private def seedsDf(s: Set[Long]): DataFrame = s.toSeq.toDF("node")

  test("bfsDistances == brute min-fold replica on random directed graphs") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 31)
      val edges = (0 until 150).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val seeds = (0 until 3).map(_ => rnd.nextInt(40).toLong).toSet
      val got = Graph.bfsDistances(edges.toDF("src", "dst"), seedsDf(seeds),
        rounds = 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteBfs(edges, seeds, 6), s"seed $seed")
    }
  }

  test("bfsDistances: directed one-way reachability vs symmetrized") {
    // 0→1→2→3→4, seed {2}: only the forward arm is reachable
    val path = (0L until 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Graph.bfsDistances(path, seedsDf(Set(2L)), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 0L, 3L -> 1L, 4L -> 2L))
    val sym = path.union(path.select(col("dst").as("src"), col("src").as("dst")))
    val gotSym = Graph.bfsDistances(sym, seedsDf(Set(2L)), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSym == Map(0L -> 2L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 2L))
    // rounds past the depth (crossing the cadence-4 checkpoint boundary)
    // are idempotent and partition-invariant
    val far = Graph.bfsDistances(sym.repartition(7), seedsDf(Set(2L)), rounds = 9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(far == gotSym)
    // null endpoints carry no edge; null seeds drop
    val withNull = Seq((Some(0L), Some(1L)), (None, Some(5L)), (Some(4L), None))
      .toDF("src", "dst")
    val gn = Graph.bfsDistances(withNull, Seq(Some(0L), Option.empty[Long]).toDF("node"),
      rounds = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gn == Map(0L -> 0L, 1L -> 1L))
    intercept[IllegalArgumentException](
      Graph.bfsDistances(path, seedsDf(Set(2L)), rounds = 0))
  }

  // -------------------------------------------- temporal reachability

  /** Serial earliest-arrival replica over timestamped contacts. */
  private def bruteTemporal(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
                            rounds: Int, strict: Boolean,
                            start: Long = 0L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.toSet
    var arr = seeds.intersect(nodes).map(_ -> start).toMap
    for (_ <- 1 to rounds) {
      val offers = e.flatMap { case (u, v, t) =>
        arr.get(u).filter(a => if (strict) t > a else t >= a).map(_ => v -> t)
      }
      arr = (arr.toSeq ++ offers).groupBy(_._1)
        .map { case (n, xs) => n -> xs.map(_._2).min }
    }
    arr
  }

  test("temporalReachability == brute replica; temporal ⊆ static; strict mode") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 23)
      val edges = (0 until 140).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
          rnd.nextInt(50).toLong))
      val seeds0 = (0 until 2).map(_ => rnd.nextInt(25).toLong).toSet
      val df = edges.toDF("src", "dst", "t")
      val got = Graph.temporalReachability(df, seedsDf(seeds0), rounds = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteTemporal(edges, seeds0, 8, strict = false), s"seed $seed")
      val gotStrict = Graph.temporalReachability(df, seedsDf(seeds0),
        rounds = 8, strict = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStrict == bruteTemporal(edges, seeds0, 8, strict = true),
        s"seed $seed strict")
      // time-respecting reach is a SUBSET of static BFS reach, and strict
      // of non-strict
      val static = Graph.bfsDistances(df.select("src", "dst"),
        seedsDf(seeds0), rounds = 8)
        .collect().map(_.getLong(0)).toSet
      assert(got.keySet.subsetOf(static), s"seed $seed not ⊆ static")
      assert(gotStrict.keySet.subsetOf(got.keySet), s"seed $seed strict ⊄")
    }
  }

  test("temporalReachability: backward-time path blocks; converged; edge cases") {
    // 0 -(t=5)-> 1 -(t=3)-> 2: the static path exists, but the relay at 1
    // happens AFTER t=3, so 2 is unreachable; flipping the times opens it
    val blocked = Seq((0L, 1L, 5L), (1L, 2L, 3L)).toDF("src", "dst", "t")
    val g1 = Graph.temporalReachability(blocked, seedsDf(Set(0L)), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g1 == Map(0L -> 0L, 1L -> 5L))
    val open = Seq((0L, 1L, 3L), (1L, 2L, 5L)).toDF("src", "dst", "t")
    val g2 = Graph.temporalReachability(open, seedsDf(Set(0L)), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2 == Map(0L -> 0L, 1L -> 3L, 2L -> 5L))
    // same-instant relay: non-strict chains through t=3,3; strict stops
    val same = Seq((0L, 1L, 3L), (1L, 2L, 3L)).toDF("src", "dst", "t")
    assert(Graph.temporalReachability(same, seedsDf(Set(0L)), rounds = 4)
      .count() === 3L)
    assert(Graph.temporalReachability(same, seedsDf(Set(0L)), rounds = 4,
      strict = true).count() === 2L)
    // converged: 19 rounds reach the fixpoint of a 20-node graph (an
    // earliest-arrival path need not revisit a node), and rounds past it
    // (across the cadence-4 checkpoints) are idempotent
    val rnd = new scala.util.Random(5)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong, rnd.nextInt(40).toLong))
    val df = edges.toDF("src", "dst", "t")
    def reach(rounds: Int) = Graph.temporalReachability(df, seedsDf(Set(0L)),
      rounds = rounds).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = reach(19)
    assert(m == bruteTemporal(edges, Set(0L), 40, strict = false))
    assert(reach(22) == m)
    // startTime filters early contacts for seeds; null times drop
    val late = Graph.temporalReachability(open, seedsDf(Set(0L)), rounds = 4,
      startTime = 4L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(late == Map(0L -> 4L)) // the t=3 contact predates the start
    val withNull = Seq((Some(0L), Some(1L), Some(2L)),
      (Some(1L), Some(2L), None)).toDF("src", "dst", "t")
    assert(Graph.temporalReachability(withNull, seedsDf(Set(0L)), rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 0L), (1L, 2L)))
    intercept[IllegalArgumentException](
      Graph.temporalReachability(df, seedsDf(Set(0L)), rounds = 0))
  }

  // ---------------------------------------------- connected components

  /** Union-find replica: component = min member id. */
  private def bruteCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  test("componentLabels == union-find AND == Dedup.clusters on random graphs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 13)
      // sparse: ~25 edges over 60 ids → many components, some singleton-free
      val edges = (0 until 25).map(_ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).filter(e => e._1 != e._2)
      val df = edges.toDF("src", "dst")
      val got = Graph.componentLabels(df, rounds = 60)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteCc(edges), s"seed $seed")
      // cross-implementation differential: clusters() (union-find /
      // pointer doubling over pair streams) produces the identical labels
      val viaClusters = Dedup.clusters(df.select(col("src").as("id_a"),
          col("dst").as("id_b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == viaClusters, s"seed $seed clusters mismatch")
    }
  }

  test("componentLabelsConverged == fixed rounds; deep chain; cap; directed=weak") {
    // a 14-node path needs 13 propagation rounds for node 13 to learn 0
    val path = (0L until 13L).map(i => (i, i + 1))
    val df = path.toDF("src", "dst")
    val (lab, rounds) = Graph.componentLabelsConverged(df, maxRounds = 20)
    val m = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == (0L to 13L).map(_ -> 0L).toMap && rounds === 14)
    // fixed rounds past the depth match (idempotence across checkpoints)
    val fixed = Graph.componentLabels(df, rounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed == m)
    // direction is ignored (weak components): reversing edges changes nothing
    val rev = Graph.componentLabels(
      df.select(col("dst").as("src"), col("src").as("dst")), rounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev == m)
    intercept[IllegalStateException](
      Graph.componentLabelsConverged(df, maxRounds = 5))
    // null endpoints drop; empty graph converges immediately with no rows
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("src", "dst")
    assert(Graph.componentLabels(withNull, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L)))
    intercept[IllegalArgumentException](Graph.componentLabels(df, rounds = 0))
  }

  // ------------------------------------------------ degree distribution

  test("degreeHistogram: hand-built buckets, dedup, null totality") {
    // out-degrees: 0→{1,2,3} = 3 (bucket 2), 1→{2} = 1 (bucket 1);
    // in-degrees: 1←{0}=1, 2←{0,1}=2 (bucket 2), 3←{0}=1; duplicate
    // 0→1 edge and a null-endpoint row must not count
    val e = Seq((Some(0L), Some(1L)), (Some(0L), Some(1L)), (Some(0L), Some(2L)),
      (Some(0L), Some(3L)), (Some(1L), Some(2L)), (None, Some(9L)))
      .toDF("src", "dst")
    val got = Graph.degreeHistogram(e).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      ("out", 2L) -> ((1L, 3L, 3L)), ("out", 1L) -> ((1L, 1L, 1L)),
      ("in", 1L) -> ((2L, 1L, 1L)), ("in", 2L) -> ((1L, 2L, 2L))))
    // partition invariance + assumeDistinct on an already-distinct list
    val dis = e.dropDuplicates().filter(col("src").isNotNull)
    val a = Graph.degreeHistogram(dis.repartition(5)).collect().map(_.toSeq).toSet
    val b = Graph.degreeHistogram(dis, assumeDistinct = true).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  // --------------------------------------------- weighted shortest paths

  /** Brute min-plus replica: `rounds` Bellman-Ford relaxations over the
    * min-folded parallel edges — enough rounds give exact Dijkstra
    * distances since weights are positive. */
  private def bruteSssp(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
                        rounds: Int): Map[Long, Long] = {
    val e = edges.groupBy(t => (t._1, t._2))
      .map { case ((s, d), xs) => (s, d, xs.map(_._3).min) }.toSeq
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.toSet
    var dist = seeds.intersect(nodes).map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val offers = e.flatMap { case (s, d, w) =>
        dist.get(s).map(x => d -> (x + w)) }
      dist = (dist.toSeq ++ offers).groupBy(_._1)
        .map { case (n, xs) => n -> xs.map(_._2).min }
    }
    dist
  }

  test("ssspWeighted == brute min-plus replica on random weighted graphs") {
    intercept[IllegalArgumentException](
      Graph.ssspWeighted(Seq((0L, 1L, 1L)).toDF("src", "dst", "w"),
        seedsDf(Set(0L)), rounds = 0))
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 77)
      // parallel edges with different weights exercise the min-fold
      val edges = (0 until 160).map(_ =>
        (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong,
          (rnd.nextInt(9) + 1).toLong))
      val seeds = (0 until 3).map(_ => rnd.nextInt(35).toLong).toSet
      // 35 nodes: 34 rounds ≥ any simple path's hop count
      val got = Graph.ssspWeighted(edges.toDF("src", "dst", "w"),
        seedsDf(seeds), rounds = 34)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == bruteSssp(edges, seeds, 34), s"seed $seed")
    }
  }

  test("ssspWeighted: w=1 == bfsDistances; cheap detour beats direct hop") {
    val path = (0L until 5L).map(i => (i, i + 1))
    val unit = path.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w")
    val viaSssp = Graph.ssspWeighted(unit, seedsDf(Set(0L)), rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBfs = Graph.bfsDistances(path.toDF("src", "dst"),
      seedsDf(Set(0L)), rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSssp == viaBfs)
    // direct 0→3 costs 10; the 3-hop detour 0→1→2→3 costs 3 — the
    // weighted optimum uses MORE hops than the BFS depth (1), the
    // documented reason the gate probes the hop bound, not eccentricity
    val detour = Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val d1 = Graph.ssspWeighted(detour, seedsDf(Set(0L)), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1(3L) == 10L) // one round only sees the direct edge
    val d3 = Graph.ssspWeighted(detour, seedsDf(Set(0L)), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d3(3L) == 3L)
    // parallel edges min-fold to the cheapest
    val par = Seq((0L, 1L, 7L), (0L, 1L, 2L)).toDF("src", "dst", "w")
    assert(Graph.ssspWeighted(par, seedsDf(Set(0L)), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(0L -> 0L, 1L -> 2L))
  }

  test("ssspWeighted: weight hygiene — fractional, zero, null weights drop") {
    // 0.6 passes a pre-cast > 0 check but truncates to 0 on the long
    // cast — the prepare() lesson; it must drop like zero and null
    val e = Seq((0L, 1L, Some(0.6)), (0L, 2L, Some(3.0)),
      (1L, 3L, Some(0.0)), (2L, 3L, None))
      .toDF("src", "dst", "w")
    val got = Graph.ssspWeighted(e, seedsDf(Set(0L)), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 2L -> 3L))
  }

  // -------------------------------------------------- common neighbors

  /** (a, b) -> (n_common, aa_permille, jaccard_permille): pairwise
    * neighbor intersection, the integer Adamic-Adar sum
    * Σ 1000/floor(log2 deg(apex)), and the neighborhood Jaccard. */
  private def bruteCommon(edges: Seq[(Long, Long)], minCommon: Int,
                          exclude: Boolean): Map[(Long, Long), (Long, Long, Long)] = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct
    val nbrs = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    canon.foreach { case (a, b) => nbrs(a) += b; nbrs(b) += a }
    val nodes = nbrs.keys.toSeq.sorted
    val eset = canon.toSet
    def ilog2(d: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(d)
    (for {
      i <- nodes; j <- nodes if i < j
      common = nbrs(i).intersect(nbrs(j))
      c = common.size.toLong
      if c >= minCommon && !(exclude && eset((i, j)))
    } yield (i, j) ->
      (c,
        common.toSeq.map(w => 1000L / ilog2(nbrs(w).size.toLong)).sum,
        1000L * c / (nbrs(i).size + nbrs(j).size - c))).toMap
  }

  test("commonNeighbors == brute replica (count + Adamic-Adar + Jaccard)") {
    for (seed <- 1 to 3; mc <- Seq(1, 2)) {
      val rnd = new scala.util.Random(seed * 13 + mc)
      val edges = (0 until 120).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      val got = Graph.commonNeighbors(edges.toDF("src", "dst"),
        minCommon = mc)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(got == bruteCommon(edges, mc, exclude = false), s"seed $seed mc $mc")
      val gotEx = Graph.commonNeighbors(edges.toDF("src", "dst"),
        minCommon = mc, excludeExisting = true)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(gotEx == bruteCommon(edges, mc, exclude = true), s"ex seed $seed mc $mc")
    }
  }

  test("commonNeighbors: apex cap makes counts a lower bound; invariance") {
    // K4 minus an edge: 0-1, 0-2, 0-3, 1-2, 1-3 (2-3 missing), plus a
    // pendant 3-4 (degree-1 node 4 must not fault the AA log2 divisor).
    // Pair (2,3) shares apexes {0, 1}; capping apex degree below 3 skips
    // BOTH degree-3 apexes, so (2,3) disappears — counts only ever drop
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (3L, 4L))
    val df = g.toDF("src", "dst")
    val full = Graph.commonNeighbors(df, minCommon = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(full((2L, 3L)) === 2L && full((0L, 1L)) === 2L)
    val capped = Graph.commonNeighbors(df, minCommon = 1, maxApexDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // only apex 2 (degree 2) survives the cap (0/1/3 are degree 3, the
    // pendant 4 is degree 1); it contributes the single wedge (0, 1)
    assert(capped == Map((0L, 1L) -> 1L))
    assert(capped.forall { case (k, v) => v <= full.getOrElse(k, 0L) })
    // excludeExisting drops adjacent pairs only
    val ex = Graph.commonNeighbors(df, minCommon = 2, excludeExisting = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ex == Set((2L, 3L)))
    // partition invariance
    val rep = Graph.commonNeighbors(df.repartition(5), minCommon = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rep == full)
    intercept[IllegalArgumentException](Graph.commonNeighbors(df, minCommon = 0))
    intercept[IllegalArgumentException](
      Graph.commonNeighbors(df, maxApexDegree = 1))
  }

  // ------------------------------------------------------ decayed counts

  private def bruteDecayed(rows: Seq[(String, Long)], alpha: Int)
      : Map[(String, Long), (Long, Long)] = {
    val counts = rows.groupBy(identity).map { case ((k, p), xs) =>
      (k, p) -> xs.size.toLong }
    val hi = rows.map(_._2).max
    rows.groupBy(_._1).flatMap { case (k, evs) =>
      val lo = evs.map(_._2).min
      var s = 0L
      (lo to hi).map { p =>
        val n = counts.getOrElse((k, p), 0L)
        s = s * alpha / 1000 + n
        (k, p) -> (n, s)
      }
    }
  }

  private def decayedDf(rows: Seq[(String, Long)]): DataFrame =
    rows.zipWithIndex.map { case ((k, day), i) =>
      (i.toLong, k, new java.sql.Timestamp(day * 86400000L)) }
      .toDF("event_id", "event_type", "ts")

  test("decayedCounts == serial fold replica; quiet keys decay to global end") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map(_ =>
      (s"t${rnd.nextInt(4)}", rnd.nextInt(15).toLong)) ++
      Seq(("early", 0L), ("early", 1L)) // goes quiet — must decay to day 14
    val got = EventAnalytics.decayedCounts(decayedDf(rows), "event_type",
      alphaPermille = 900)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == bruteDecayed(rows, 900))
    // the quiet key's trajectory reaches the global end with n = 0 rows
    assert(got.contains(("early", 14L)) && got(("early", 14L))._1 === 0L)
  }

  test("decayedCounts: alpha edges, null contract, guard, validation") {
    val rows = Seq(("a", 0L), ("a", 0L), ("a", 2L), ("b", 1L))
    // alpha = 0: score is just the period count
    val a0 = EventAnalytics.decayedCounts(decayedDf(rows), "event_type", 0)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(a0 == Map(("a", 0L) -> 2L, ("a", 1L) -> 0L, ("a", 2L) -> 1L,
      ("b", 1L) -> 1L, ("b", 2L) -> 0L))
    // alpha = 1000: score is the running cumulative count
    val a1 = EventAnalytics.decayedCounts(decayedDf(rows), "event_type", 1000)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(a1 == Map(("a", 0L) -> 2L, ("a", 1L) -> 2L, ("a", 2L) -> 3L,
      ("b", 1L) -> 1L, ("b", 2L) -> 1L))
    // null key/ts rows drop
    val withNull = decayedDf(rows)
      .union(Seq((99L, null.asInstanceOf[String],
        new java.sql.Timestamp(86400000L))).toDF("event_id", "event_type", "ts"))
    assert(EventAnalytics.decayedCounts(withNull, "event_type", 900).count() ===
      EventAnalytics.decayedCounts(decayedDf(rows), "event_type", 900).count())
    // corrupt-timestamp spine guard faults loudly
    val corrupt = decayedDf(rows ++ Seq(("a", 10000000L)))
    val ex = intercept[Exception](
      EventAnalytics.decayedCounts(corrupt, "event_type", 900, maxPeriods = 100)
        .collect())
    assert(ex.getMessage.contains("corrupt timestamps") ||
      ex.getCause != null && ex.getCause.getMessage.contains("corrupt timestamps"))
    intercept[IllegalArgumentException](
      EventAnalytics.decayedCounts(decayedDf(rows), "event_type", 1001))
    intercept[IllegalArgumentException](
      EventAnalytics.decayedCounts(decayedDf(rows), "event_type", 900, periodDays = 0))
  }

  // ------------------------------------------------------- random walks

  /** The operator's pick function, recomputed from first principles:
    * 60-bit md5("start:walk:step:cur") prefix mod outdeg. */
  private def md5Pick(start: Long, walk: Long, step: Int, cur: Long,
                      outdeg: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$start:$walk:$step:$cur".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % outdeg).toInt
  }

  private def bruteWalks(edges: Seq[(Long, Long)], w: Int,
                         len: Int): Set[(Long, Long, Long, Long)] = {
    val e = edges.distinct
    val adj = e.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map(_._2).sorted.toIndexedSeq }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val out = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    for (start <- nodes; walk <- 0 until w) {
      var cur = start
      out += ((start, walk.toLong, 0L, cur))
      var s = 1
      var dead = false
      while (s <= len && !dead) {
        adj.get(cur) match {
          case Some(nbrs) =>
            cur = nbrs(md5Pick(start, walk.toLong, s, cur, nbrs.size))
            out += ((start, walk.toLong, s.toLong, cur))
          case None => dead = true
        }
        s += 1
      }
    }
    out.toSet
  }

  test("randomWalks == md5-replica on random directed graphs; hops are edges") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 7)
      val edges = (0 until 100).map(_ =>
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(e => e._1 != e._2)
      val got = Graph.randomWalks(edges.toDF("src", "dst"),
        walksPerNode = 2, length = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == bruteWalks(edges, 2, 4), s"seed $seed")
      // every consecutive (step, step+1) pair in a walk is a real edge
      val eset = edges.toSet
      got.groupBy(t => (t._1, t._2)).values.foreach { walk =>
        walk.toSeq.sortBy(_._3).map(_._4).sliding(2).foreach {
          case Seq(a, b) => assert(eset.contains((a, b)), s"hop $a->$b seed $seed")
          case _ =>
        }
      }
    }
  }

  test("randomWalks: dead ends stop early; determinism; invariance; validation") {
    // star 0→{1,2,3}: walks from the leaves are a single step-0 row, walks
    // from 0 take exactly one hop and die at the leaf
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val rows = Graph.randomWalks(star, walksPerNode = 3, length = 5).collect()
    assert(rows.count(_.getLong(2) == 0L) === 12) // 4 nodes × 3 walks
    val hops = rows.filter(_.getLong(2) > 0L)
    assert(hops.length === 3 &&
      hops.forall(r => r.getLong(0) == 0L && r.getLong(2) == 1L))
    // determinism and partition invariance: the corpus is a pure function
    // of the edge list
    val rnd = new scala.util.Random(99)
    val edges = (0 until 80).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong)).filter(e => e._1 != e._2)
    val df = edges.toDF("src", "dst")
    def runSet(d: DataFrame) = Graph.randomWalks(d, 2, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val once = runSet(df)
    assert(runSet(df) == once && runSet(df.repartition(9)) == once)
    intercept[IllegalArgumentException](Graph.randomWalks(df, 0, 3))
    intercept[IllegalArgumentException](Graph.randomWalks(df, 1, 0))
  }

  // ------------------------------------------------------ node2vec walks

  private def md560(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** First-principles node2vec replica: uniform first hop, then
    * return/near/far weights over id-sorted neighbors, cumulative-
    * interval pick by md5 mod total. */
  private def bruteN2v(edges: Seq[(Long, Long)], w: Int, len: Int,
                       wRet: Long, wFar: Long): Set[(Long, Long, Long, Long)] = {
    val e = edges.distinct
    val adj = e.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map(_._2).sorted.toIndexedSeq }
    val eset = e.toSet
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val out = scala.collection.mutable.Set[(Long, Long, Long, Long)]()
    for (start <- nodes; walk <- 0 until w) {
      var prev = start
      var cur = start
      out += ((start, walk.toLong, 0L, cur))
      var s = 1
      var dead = false
      while (s <= len && !dead) {
        adj.get(cur) match {
          case Some(nbrs) =>
            val next =
              if (s == 1) nbrs((md560(s"$start:$walk:$s:$cur") % nbrs.size).toInt)
              else {
                val wgts = nbrs.map(x =>
                  if (x == prev) wRet
                  else if (eset.contains((prev, x))) 1000L
                  else wFar)
                val r = md560(s"$start:$walk:$s:$cur") % wgts.sum
                var acc = 0L
                var i = 0
                while (acc + wgts(i) <= r) { acc += wgts(i); i += 1 }
                nbrs(i)
              }
            prev = cur; cur = next
            out += ((start, walk.toLong, s.toLong, cur))
          case None => dead = true
        }
        s += 1
      }
    }
    out.toSet
  }

  test("node2vecWalks == md5-replica on random directed graphs; hops are edges") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 41)
      val edges = (0 until 100).map(_ =>
        (rnd.nextInt(22).toLong, rnd.nextInt(22).toLong))
        .filter(e => e._1 != e._2)
      val got = Graph.node2vecWalks(edges.toDF("src", "dst"),
        walksPerNode = 2, length = 4, returnPermille = 300, farPermille = 2500)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == bruteN2v(edges, 2, 4, 300L, 2500L), s"seed $seed")
      val eset = edges.toSet
      got.groupBy(t => (t._1, t._2)).values.foreach { walk =>
        walk.toSeq.sortBy(_._3).map(_._4).sliding(2).foreach {
          case Seq(a, b) => assert(eset.contains((a, b)), s"hop $a->$b seed $seed")
          case _ =>
        }
      }
    }
  }

  test("node2vecWalks: return bias steers backtracks; determinism; validation") {
    // symmetrized random graph: a huge return weight makes step 2 return
    // to the start almost always; a tiny one almost never
    val rnd = new scala.util.Random(7)
    val base = (0 until 120).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).filter(e => e._1 != e._2)
    val sym = (base ++ base.map(_.swap)).distinct
    val df = sym.toDF("src", "dst")
    def backtracks(wRet: Int, wFar: Int): Int = {
      val rows = Graph.node2vecWalks(df, walksPerNode = 2, length = 2,
        returnPermille = wRet, farPermille = wFar, assumeDistinct = true)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .groupBy(_._1).values
      rows.count { steps =>
        val m = steps.map(_._2).toMap
        m.contains(0L) && m.contains(2L) && m(0L) == m(2L)
      }
    }
    val many = backtracks(1000000, 1000)
    val few = backtracks(1, 1000)
    assert(many > few * 3, s"return bias inert: $many vs $few")
    // determinism + partition invariance
    def runSet(d: DataFrame) = Graph.node2vecWalks(d, 2, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val once = runSet(df)
    assert(runSet(df.repartition(9)) == once)
    intercept[IllegalArgumentException](
      Graph.node2vecWalks(df, 1, 1, returnPermille = 0))
    intercept[IllegalArgumentException](
      Graph.node2vecWalks(df, 1, 1, farPermille = 1000001))
  }

  // ---- OHLC / TWAP / CUSUM ----

  /** (event_id, ts_us, event_type, value) with a real ts column. */
  private def mkValued(rows: Seq[(Long, Long, String, Double)]): DataFrame =
    rows.toDF("event_id", "ts_us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select("event_id", "ts", "event_type", "value")

  private def randValued(seed: Int, n: Int, tsMax: Int,
                         types: Seq[String]): Seq[(Long, Long, String, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, rnd.nextInt(tsMax).toLong,
      types(rnd.nextInt(types.size)), rnd.nextInt(100000) / 100.0))
  }

  test("downsampleOhlc: brute-force parity incl. exact-ts ties, partitioning") {
    for (seed <- Seq(1, 2)) {
      val rows = randValued(seed, 400, tsMax = 50, types = Seq("a", "b"))
      val bucketSec = 10L
      // stretch the tiny tie-rich µs domain to ~100 s → ~10 buckets/key
      val rows2 = rows.map(r => r.copy(_2 = r._2 * 2000000L))
      val got = EventAnalytics.downsampleOhlc(mkValued(rows2).repartition(7),
        keyCol = "event_type", bucketSeconds = bucketSec)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
        .toMap
      val brute = rows2.groupBy(r => (r._3, r._2 / (bucketSec * 1000000L) * bucketSec))
        .map { case (k, evs) =>
          val cents = evs.map(e => math.round(e._4 * 100))
          val sorted = evs.sortBy(e => (e._2, e._1))
          k -> (evs.size.toLong, math.round(sorted.head._4 * 100),
            cents.max, cents.min, math.round(sorted.last._4 * 100), cents.sum)
        }
      assert(got == brute)
    }
  }

  test("twap: brute-force step integral; single point yields no interval") {
    for (seed <- Seq(3, 4)) {
      val rows = randValued(seed, 300, tsMax = 1000000, types = Seq("x", "y", "z"))
      val got = EventAnalytics.twap(mkValued(rows).repartition(5), "event_type")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val brute = rows.groupBy(_._3).map { case (k, evs) =>
        val s = evs.sortBy(e => (e._2, e._1))
        val ivs = s.zip(s.tail).map { case (a, b) =>
          (math.round(a._4 * 100), b._2 - a._2) }
        val dur = ivs.map(_._2).sum
        val wsum = ivs.map(t => t._1 * t._2).sum
        k -> (ivs.size.toLong, dur, wsum, wsum / math.max(dur, 1L))
      }
      assert(got == brute)
    }
    // a key with one event bounds no interval → absent from the report
    val one = mkValued(Seq((1L, 5L, "solo", 1.0), (2L, 1L, "duo", 2.0),
      (3L, 9L, "duo", 4.0)))
    val r = EventAnalytics.twap(one, "event_type").collect()
    assert(r.map(_.getString(0)).toSet == Set("duo"))
    // duo: 200 cents held for 8 µs → twap 200
    assert(r.head.getLong(4) == 200L)
  }

  test("groupedTrend: brute integer OLS, shift invariance, constant-x guard") {
    import spark.implicits._
    for (seed <- Seq(7, 8)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 200).map(_ => (s"k${rnd.nextInt(3)}",
        (20000 + rnd.nextInt(60)).toLong, rnd.nextInt(100000).toLong))
      // collapse to one y per (key, x) like the gate's daily table
      val series = rows.groupBy(r => (r._1, r._2))
        .map { case ((k, x), rs) => (k, x, rs.map(_._3).sum) }.toSeq
      val got = EventAnalytics.groupedTrend(
        series.toDF("k", "x", "y").repartition(5), "k", "x", "y")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val brute = series.groupBy(_._1).map { case (k, rs) =>
        val x0 = rs.map(_._2).min
        val xs = rs.map(r => (r._2 - x0, r._3))
        val n = xs.size.toLong
        val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
        val sxy = xs.map(t => t._1 * t._2).sum
        val sxx = xs.map(t => t._1 * t._1).sum
        val den = math.max(n * sxx - sx * sx, 1L)
        // Spark `div` and DuckDB `//` both truncate toward zero — so does
        // Scala Long `/`; floorDiv would diverge on negative slopes
        val slope = 1000000L * (n * sxy - sx * sy) / den
        val icept = (sy - slope * sx / 1000000L) / n
        k -> (n, slope, icept)
      }
      assert(got == brute)
    }
    // exact line y = 3x + 7 (milli-slope 3e6), any x origin
    val line = (100L to 110L).map(x => ("L", x, 3 * x + 7)).toDF("k", "x", "y")
    val lr = EventAnalytics.groupedTrend(line, "k", "x", "y").head
    assert(lr.getLong(2) == 3000000L)
    assert(lr.getLong(3) == 3 * 100 + 7) // intercept at the re-origined x0
    // constant x: undefined slope reports 0 via the guarded denominator
    val const = Seq(("c", 5L, 10L), ("c", 5L, 20L)).toDF("k", "x", "y")
    assert(EventAnalytics.groupedTrend(const, "k", "x", "y").head.getLong(2) == 0L)
  }

  test("twapSalted == twapPlain on random tie-rich data, any bucket width") {
    for (seed <- Seq(9, 10)) {
      val rows = randValued(seed, 400, tsMax = 40000000, types = Seq("x", "y", "z"))
      val df = mkValued(rows).repartition(6)
      val plain = EventAnalytics.twapPlain(df, "event_type")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      for (bucketSec <- Seq(1L, 5L, 1000000L)) {
        val salted = EventAnalytics.twapSalted(df, "event_type", bucketSec)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        assert(salted == plain, s"seed $seed bucket $bucketSec diverged")
      }
    }
    // single-point key absent from both forms
    val solo = mkValued(Seq((1L, 5L, "solo", 1.0), (2L, 1L, "duo", 2.0),
      (3L, 9L, "duo", 4.0)))
    assert(EventAnalytics.twapSalted(solo, "event_type", 1L)
      .collect().map(_.getString(0)).toSet == Set("duo"))
  }

  test("cusum: brute Page recursion, alarm threshold, reset-at-zero") {
    for (seed <- Seq(5, 6)) {
      val rows = randValued(seed, 500, tsMax = 20000000, types = Seq("a", "b"))
      val got = EventAnalytics.cusum(mkValued(rows).repartition(3),
        keyCol = "event_type", bucketSeconds = 1L, slackPermille = 100,
        hPermille = 300)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val brute = rows.groupBy(_._3).flatMap { case (k, evs) =>
        val buckets = evs.groupBy(_._2 / 1000000L)
          .map { case (b, es) => (b, es.map(e => math.round(e._4 * 100)).sum) }
          .toSeq.sortBy(_._1)
        val target = buckets.map(_._2).sum / buckets.size
        val slack = target * 100 / 1000
        val h = target * 300 / 1000
        var s = 0L
        buckets.map { case (b, x) =>
          s = math.max(0L, s + x - target - slack)
          (k, b) -> (x, target, s, if (s > h) 1L else 0L)
        }
      }
      assert(got == brute)
      assert(got.values.exists(_._4 == 1L) || got.values.forall(_._4 == 0L))
    }
    intercept[IllegalArgumentException](
      EventAnalytics.cusum(mkValued(Seq.empty[(Long, Long, String, Double)]),
        bucketSeconds = 0L))
  }

  // ---- graph driver path vs distributed rounds ----

  /** (src, dst, w, t) edges; w is fractional so the long cast matters. */
  private type GEdge = (Option[Long], Option[Long], Option[Double], Long)

  private def gEdges(rows: Seq[GEdge]): DataFrame = rows.toDF("src", "dst", "w", "t")

  /** Tie-rich random graph: a small node domain makes self-loops,
    * duplicate, two-way and parallel edges common; a few null endpoints
    * and null, zero, negative and fractional weights. */
  private def randGraph(seed: Int): Seq[GEdge] = {
    val rnd = new scala.util.Random(seed)
    (0 until 70).map { _ =>
      def end = if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(24).toLong)
      val w = rnd.nextInt(12) match {
        case 0 => None
        case 1 => Some(0.0)
        case 2 => Some(-2.0)
        case 3 => Some(0.5)
        case k => Some(k + 0.75)
      }
      (end, end, w, rnd.nextInt(15).toLong)
    }
  }

  /** Every entry point of the driver path as budget → (result, rounds of
    * a converged twin), over one graph and seed set. */
  private def graphEntryPoints(e: DataFrame, seeds: DataFrame)
      : Seq[(String, Long => (DataFrame, Option[Int]))] = {
    def fixed(df: DataFrame) = (df, Option.empty[Int])
    def conv(r: (DataFrame, Int)) = (r._1, Some(r._2))
    Seq[(String, Long => (DataFrame, Option[Int]))](
      "componentLabels" -> (b => fixed(Graph.componentLabels(b, e, 3, false, None))),
      "bfsDistances" -> (b => fixed(Graph.bfsDistances(b, e, seeds, 3, false, None))),
      "ssspWeighted" -> (b => fixed(Graph.ssspWeighted(b, e, seeds, 3, "w", false, None))),
      "temporalReachability" -> (b => fixed(
        Graph.temporalReachability(b, e, seeds, 3, "t", 2L, false, false, None))),
      "temporalReachability strict" -> (b => fixed(
        Graph.temporalReachability(b, e, seeds, 3, "t", 2L, true, false, None))),
      "labelPropagation" -> (b => fixed(Graph.labelPropagation(b, e, 3, None))),
      "communityStatsLpa" -> (b => fixed(Graph.communityStatsLpa(b, e, 2, None))),
      "modularityPermilleLpa" -> (b => fixed(Graph.modularityPermilleLpa(b, e, 2, None))),
      "componentLabelsConverged" -> (b => conv(
        Graph.componentLabelsConverged(b, e, 50, false, None))))
  }

  /** An entry point's outcome: its column names and types, sorted rows
    * and round count, or the class of what it threw. */
  private def outcome(run: => (DataFrame, Option[Int])): Either[String, Any] =
    try {
      val (df, rounds) = run
      Right((df.schema.map(f => f.name -> f.dataType),
        df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(",")), rounds))
    } catch { case t: Exception => Left(t.getClass.getName) }

  /** Whether a result came back from the driver path (a local relation). */
  private def fromDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Driver path (the default budget) == forced distributed rounds (a
    * negative budget: even an empty table is over it) for every entry
    * point; returns the driver outcomes. */
  private def assertPathsAgree(e: DataFrame, seeds: DataFrame,
                               label: String): Seq[Either[String, Any]] =
    graphEntryPoints(e, seeds).map { case (name, run) =>
      val driver = outcome {
        val r = run(DriverPath.DriverMaxEdges)
        assert(fromDriver(r._1), s"$label $name: driver path not taken")
        r
      }
      val distributed = outcome {
        val r = run(-1L)
        assert(!fromDriver(r._1), s"$label $name: distributed path not taken")
        r
      }
      assert(driver == distributed, s"$label $name")
      driver
    }

  test("graph driver path == distributed rounds on seeded random graphs") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed + 100)
      // seeds inside and outside the node set, and a null seed
      val seeds = (Seq(Some(rnd.nextInt(24).toLong), Some(rnd.nextInt(24).toLong),
        Some(999L), None)).toDF("node")
      val got = assertPathsAgree(gEdges(randGraph(seed)).repartition(3), seeds,
        s"seed $seed")
      assert(got.forall(_.isRight))
    }
  }

  test("graph driver path == distributed rounds on edge-case fixtures") {
    val fixture: Seq[GEdge] = Seq(
      (Some(1L), Some(2L), Some(3.0), 1L), (Some(1L), Some(2L), Some(1.5), 1L), // parallel
      (Some(1L), Some(2L), Some(0.5), 0L), (Some(1L), Some(2L), None, 2L), // fractional, null
      (Some(2L), Some(1L), Some(0.0), 4L), (Some(2L), Some(3L), Some(2.0), 3L), // zero
      (Some(3L), Some(3L), Some(1.0), 5L), (Some(3L), Some(4L), Some(1.0), 5L), // self-loop
      (Some(3L), Some(4L), Some(1.0), 5L), (Some(4L), Some(3L), Some(7.0), 6L), // dup, two-way
      (None, Some(5L), Some(1.0), 1L), (Some(5L), None, Some(1.0), 1L), // null endpoints
      (Some(6L), Some(7L), Some(1.0), 9L))
    val seeds = Seq(Some(1L), Some(6L), Some(42L), None).toDF("node")
    assertPathsAgree(gEdges(fixture), seeds, "fixture")
    val none = assertPathsAgree(gEdges(Seq.empty), seeds, "empty")
    // the empty graph: every result empty, the converged twin stops after
    // the confirming round, modularity is (0, 0)
    assert(none.forall(_.isRight))
    val m = graphEntryPoints(gEdges(Seq.empty), seeds).toMap
    assert(m("modularityPermilleLpa")(DriverPath.DriverMaxEdges)._1.collect()
      .map(_.toSeq) === Array(Seq(0L, 0L)))
    assert(m("componentLabelsConverged")(DriverPath.DriverMaxEdges)._2 === Some(1))
  }

  test("graph driver path overflows and caps where the distributed rounds do") {
    def bothThrow(name: String, budgetRun: Long => Any): String = {
      val classes = Seq(DriverPath.DriverMaxEdges, -1L).map { b =>
        intercept[Exception] {
          budgetRun(b) match {
            case df: DataFrame => df.collect()
            case (df: DataFrame, _) => df.collect()
          }
        }.getClass.getName
      }
      assert(classes.distinct.size == 1, s"$name: $classes")
      classes.head
    }
    val big = Seq((1L, 2L, Long.MaxValue - 1), (2L, 3L, 5L)).toDF("src", "dst", "w")
    val one = Seq(1L).toDF("node")
    val overflow = "org.apache.spark.SparkArithmeticException"
    for ((name, run) <- Seq[(String, Long => Any)](
      "sssp offer" -> (b => Graph.ssspWeighted(b, big, one, 2, "w", false, None)),
      "components Σ label" -> (b => Graph.componentLabelsConverged(b,
        Seq((Long.MaxValue, Long.MaxValue - 1)).toDF("src", "dst"), 5, false, None)),
      "lpa negated label" -> (b => Graph.labelPropagation(b,
        Seq((Long.MinValue, 2L)).toDF("src", "dst"), 1, None))))
      assert(bothThrow(name, run) == overflow, name)
    val chain = (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    for ((name, run) <- Seq[(String, Long => Any)](
      "components cap" -> (b => Graph.componentLabelsConverged(b, chain, 2, false, None))))
      assert(bothThrow(name, run) == "java.lang.IllegalStateException", name)
  }

  test("graph driver path runs at a budget of exactly the edge rows, not one less") {
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (5L, 6L), (6L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    // the cleaned tables: 6 distinct directed edges; 3 canonical pairs
    val at = Graph.bfsDistances(6L, sym, seeds, 4, false, None)
    val under = Graph.bfsDistances(5L, sym, seeds, 4, false, None)
    assert(fromDriver(at) && !fromDriver(under))
    assert(at.collect().toSet == under.collect().toSet)
    // more seed rows than the budget also keep the distributed rounds
    val manySeeds = (1L to 7L).toDF("node")
    val seedsOver = Graph.bfsDistances(6L, sym, manySeeds, 4, false, None)
    assert(!fromDriver(seedsOver))
    assert(seedsOver.collect().toSet ==
      Graph.bfsDistances(7L, sym, manySeeds, 4, false, None).collect().toSet)
    val lpaAt = Graph.labelPropagation(3L, sym, 2, None)
    val lpaUnder = Graph.labelPropagation(2L, sym, 2, None)
    assert(fromDriver(lpaAt) && !fromDriver(lpaUnder))
    assert(lpaAt.collect().toSet == lpaUnder.collect().toSet)
  }

  test("forced distributed rounds plan no nested-loop or cartesian joins") {
    // the public entry points take the driver path on graphs this small,
    // so PlanSpec's plan checks of them see a local relation
    val edges = spark.range(2000)
      .selectExpr("id % 97 as src", "(id * 7) % 113 as dst", "id % 5 + 1 as w")
    val seeds = spark.range(1, 5).selectExpr("id as node")
    for ((what, df) <- Seq(
      "sssp" -> Graph.ssspWeighted(-1L, edges, seeds, 5, "w", false, None),
      "components" -> Graph.componentLabels(-1L, edges, 5, false, None),
      "bfs" -> Graph.bfsDistances(-1L, edges, seeds, 5, false, None))) {
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      assert(!fromDriver(df) && !plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$what plan has NLJ/cartesian:\n$plan")
    }
  }

  test("graph driver path leaves no persisted RDD behind") {
    val e = gEdges(randGraph(7))
    val seeds = Seq(3L, 11L).toDF("node")
    for ((name, run) <- graphEntryPoints(e, seeds)) {
      graft.Session.release(spark)
      val r = try run(DriverPath.DriverMaxEdges)._1 catch { case _: IllegalStateException => null }
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, name)
      if (r != null) assert(fromDriver(r), name)
    }
  }

  // ---- time windows and sessions (sf0.001 events) ----

  private val dir = "/root/testdata/sf0.001"
  private lazy val events = graft.sources.Tables.table(spark, dir, "events").cache()

  test("hopping counts: every non-null event in 4 overlapping windows") {
    // membership invariant: Σ n over hopping windows = 4 × event count
    // (duration/slide = 4 overlapping memberships per event)
    val total = EventAnalytics.hoppingCounts(events).agg(sum(col("n"))).head().getLong(0)
    assert(total == 4L * events.filter(col("ts").isNotNull).count())
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
