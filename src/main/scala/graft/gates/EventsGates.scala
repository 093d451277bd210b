package graft
package gates

import graft.pipeline.EventAnalytics
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-stream and time-series gates: as-of joins, time windows,
  * sessions, funnels and the event-analytics folds. The `q_stream_*`
  * names are historical; every gate runs a batch plan. */
object EventsGates {

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

  /** The gap-sessionization replay, shared verbatim by q_sessionize and
    * its salted twin q_sessionize_salted (output-identical by contract). */
  private val SessionizeOracleSql: String =
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms FROM events), " +
      "g AS (SELECT user_id, event_id, ts_ms, " +
      "CASE WHEN lag(ts_ms) OVER w IS NULL OR ts_ms - lag(ts_ms) OVER w > 3600000 " +
      "THEN 1 ELSE 0 END AS new_session FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC)), " +
      "si AS (SELECT user_id, ts_ms, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM g) " +
      "SELECT user_id, session_idx, count(*) AS n_events, min(ts_ms) AS first_ts, max(ts_ms) AS last_ts " +
      "FROM si GROUP BY user_id, session_idx"

  /** The as-of fixture over events with epoch-ms `ts_ms`: error events
    * (the left side) and clicks collapsed to the latest event_id per
    * (user, ms) (the right side). */
  private[graft] def errorsAndClicks(events: DataFrame): (DataFrame, DataFrame) = {
    val e = events.withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts_ms"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("event_id")).as("event_id"))
    (errors, clicks)
  }

  /** DuckDB's ASOF join over the same fixture, shared verbatim by
    * q_join_asof and its salted twin q_join_asof_salted. */
  private val JoinAsofOracleSql: String =
    "WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS ts_ms, event_type FROM events), " +
      "err AS (SELECT user_id, event_id, ts_ms FROM e WHERE event_type = 'error'), " +
      "clk AS (SELECT user_id, ts_ms, max(event_id) AS click_id FROM e " +
      "WHERE event_type = 'click' GROUP BY user_id, ts_ms) " +
      "SELECT err.event_id AS event_id, clk.click_id AS asof_event_id " +
      "FROM err ASOF JOIN clk ON err.user_id = clk.user_id AND err.ts_ms >= clk.ts_ms"

  val all: Seq[Gate] = Seq(
    // as-of join: each error event → the latest click by the same user at or
    // before it (union-merge implementation, one shuffle)
    Gate("q_join_asof", (s, d) => {
      val (errors, clicks) = errorsAndClicks(Tables.table(s, d, "events"))
      graft.api.AsofJoin.asofJoin(errors, clicks,
        keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
        rightPayload = Seq("event_id"), rightIdCol = "event_id")
        .select(col("event_id"), col("asof_event_id"))
    },
      JoinAsofOracleSql),

    // the tolerance-bounded as-of (pandas merge_asof tolerance): same
    // error→click fixture, match only when the click is no more
    // than ~28 h older (100M ms — the corpus median gap is ~34 h, so the
    // tolerance splits matches near the middle at every scale; 60 s kept
    // almost nothing) — stale matches drop (inner)
    Gate("q_join_asof_tol", (s, d) => {
      val (errors, clicks) = errorsAndClicks(Tables.table(s, d, "events"))
      graft.api.AsofJoin.asofJoinTolerance(errors, clicks,
        keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
        rightPayload = Seq("event_id"), rightIdCol = "event_id",
        toleranceTs = 100000000L)
        .select(col("event_id"), col("asof_event_id"))
    },
      // DuckDB's ASOF picks the same latest-≤ match; the tolerance is the
      // same post-filter on the matched timestamp gap
      JoinAsofOracleSql + " WHERE err.ts_ms - clk.ts_ms <= 100000000"),

    // OHLC fixed-bucket downsample (daily candles per event type):
    // open/close by (ts, event_id) struct min/max — ONE hash aggregate,
    // no window sort
    Gate("q_ohlc", (s, d) =>
      EventAnalytics.downsampleOhlc(Tables.table(s, d, "events"),
        keyCol = "event_type", bucketSeconds = 86400L),
      // open/close re-derived via first/last row_number in (ts, event_id)
      // order; min/max/sum over the same integer cents
      "WITH t AS (SELECT event_type, " +
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

    // time-weighted average per event type (step-function integral over
    // the irregular timeline; money as cents·µs integers). The
    // DEFAULT twap is the bucketed scale-safe form (the plain per-key
    // lead window measured 8.3× for 10× data at sf10 on 5 keys; the
    // bucketed plan probed 1.24× — twapPlain remains as parity mode)
    Gate("q_twap", (s, d) =>
      EventAnalytics.twap(Tables.table(s, d, "events"),
        keyCol = "event_type"),
      // the same lead-bounded step integral: Σ cents·µs div Σ µs
      TwapOracleSql),

    // the explicitly-bucketed form (now also twap's implementation):
    // per-(key, day-bucket) local windows + exact boundary stitching
    // keep window partitions bounded by the bucket width at any key
    // cardinality. Same oracle as q_twap.
    Gate("q_twap_salted", (s, d) =>
      EventAnalytics.twapSalted(Tables.table(s, d, "events"),
        keyCol = "event_type", bucketSeconds = 86400L),
      // the salted twin must be output-identical — SAME oracle
      TwapOracleSql),

    // one-sided CUSUM drift alarm over daily value sums per event type
    // (target = the key's own mean bucket; h = 20% of target) — the
    // ingest-monitoring change-point gate; the recursion replays as a
    // recursive CTE in DuckDB
    Gate("q_cusum", (s, d) =>
      EventAnalytics.cusum(Tables.table(s, d, "events"),
        keyCol = "event_type", bucketSeconds = 86400L,
        slackPermille = 0, hPermille = 200),
      // bucket sums, per-key integer mean target, then the Page recursion
      // S_t = max(0, S_{t-1} + x_t - target - slack) as a recursive CTE
      "WITH RECURSIVE b AS (SELECT event_type, " +
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

    // grouped integer OLS trend over the daily value series per event
    // type (day index re-origined to each key's min) — the drift-TREND
    // complement of q_cusum's change-point alarm
    Gate("q_trend", (s, d) => {
      val daily = Tables.table(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
      EventAnalytics.groupedTrend(daily, "event_type", "day", "y")
    },
      // same daily collapse, re-origin, integer moments, and guarded OLS
      "WITH dly AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, " +
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

    Gate("q_stream_window", (s, d) =>
      EventAnalytics.windowedCounts(Tables.table(s, d, "events"))
        .select(unix_seconds(col("window_start")).as("window_epoch"),
          col("event_type"), col("n"), col("value_milli")),
      "SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS window_epoch, event_type, " +
        "count(*) AS n, CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli " +
        "FROM events GROUP BY 1, 2"),

    // hopping windows (1 h duration, 15 min slide): each event lands in 4
    // overlapping windows — the trailing-hour-updated-every-15-min shape;
    // oracle unrolls the 4 epoch-aligned memberships per event
    Gate("q_stream_window_hop", (s, d) =>
      EventAnalytics.hoppingCounts(Tables.table(s, d, "events"))
        .select(unix_seconds(col("window_start")).as("window_epoch"),
          col("event_type"), col("n"), col("value_milli")),
      // each event joins its 4 membership windows: start = floor-to-slide
      // minus j slides, kept while the event is inside the 1 h duration
      "WITH k AS (SELECT unnest(range(0, 4)) AS j), " +
        "e AS (SELECT epoch_us(ts) AS t, event_type, CAST(floor(value * 1000) AS BIGINT) AS vm " +
        "FROM events WHERE ts IS NOT NULL), " +
        "w AS (SELECT (t // 900000000) * 900000000 - j * 900000000 AS ws, event_type, vm, t " +
        "FROM e CROSS JOIN k) " +
        "SELECT ws // 1000000 AS window_epoch, event_type, count(*) AS n, " +
        "CAST(sum(vm) AS BIGINT) AS value_milli " +
        "FROM w WHERE t < ws + 3600000000 GROUP BY 1, 2"),

    // LEFT OUTER interval join: errors keep their row even with no click
    // in the preceding 10 minutes
    Gate("q_stream_outer_join", (s, d) =>
      EventAnalytics.errorClickJoinOuter(Tables.table(s, d, "events")),
      // outer interval-join replay: ordinary SQL left join
      "WITH e AS (SELECT event_id AS error_id, user_id, ts FROM events " +
        "WHERE event_type = 'error'), " +
        "c AS (SELECT event_id AS click_id, user_id, ts FROM events " +
        "WHERE event_type = 'click') " +
        "SELECT e.error_id, c.click_id, e.user_id FROM e LEFT JOIN c " +
        "ON e.user_id = c.user_id AND c.ts <= e.ts " +
        "AND c.ts >= e.ts - INTERVAL 10 MINUTE"),

    // SESSION windows via Spark's native session_window (30 min gap):
    // dynamic-length per-user bursts — the declarative sibling of
    // q_sessionize; an event at EXACTLY gap after the previous still
    // MERGES (next.start <= current.end joins, spec-pinned at ±1 µs);
    // oracle = island detection with diff > gap breaking, session_end =
    // last event + gap
    Gate("q_stream_session", (s, d) =>
      EventAnalytics.sessionCounts(Tables.table(s, d, "events"))
        .select(unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("user_id"), col("n"), col("value_milli")),
      // session replay: classic island detection — a break where the gap to
      // the previous event is STRICTLY > 30 min (Spark merges sessions
      // while next.start <= current.end, so an exact-gap event still
      // merges), then min/max + gap per island
      "WITH e AS (SELECT user_id, epoch_us(ts) AS t, " +
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

    // interval merge (coverage union): each event opens a value-dependent
    // half-open window [t, t + 1..1799 s); overlapping-or-touching
    // per-user windows merge into contiguous coverage spans — the
    // span-algebra primitive (redaction spans, crawl re-visit windows,
    // contamination hit coverage); one island sweep, oracle-replayed
    Gate("q_interval_merge", (s, d) => {
      val iv = Tables.table(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("user_id"), expr("unix_micros(ts)").as("s_us"),
          expr("unix_micros(ts) + ((CAST(floor(value * 1000) AS BIGINT) " +
            "% 900 + 900) * 1000000)").as("e_us"))
      EventAnalytics.mergeIntervals(iv, "user_id", "s_us", "e_us")
    },
      // interval-merge replay: the classic sweep — running max of prior
      // ends (1-PRECEDING frame), break where start strictly exceeds it
      // (touching merges), island prefix sum, min/max/count per island
      "WITH iv AS (SELECT user_id, epoch_us(ts) AS s, " +
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

    Gate("q_sessionize", (s, d) =>
      EventAnalytics.sessionize(Tables.table(s, d, "events"),
        gapMs = 60 * 60 * 1000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("first_ts"), col("last_ts")),
      SessionizeOracleSql),

    // skew-resistant twins: identical semantics (and oracle SQL) to
    // q_join_asof / q_sessionize via (key, time-bucket) salting — see
    // AsofJoin.asofJoinSalted / EventAnalytics.sessionizeSalted
    Gate("q_join_asof_salted", (s, d) => {
      val (errors, clicks) = errorsAndClicks(Tables.table(s, d, "events"))
      graft.api.AsofJoin.asofJoinSalted(errors, clicks,
        keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
        rightPayload = Seq("event_id"), rightIdCol = "event_id")
        .select(col("event_id"), col("asof_event_id"))
    },
      JoinAsofOracleSql),

    Gate("q_sessionize_salted", (s, d) =>
      EventAnalytics.sessionizeSalted(Tables.table(s, d, "events"),
        gapMs = 60 * 60 * 1000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("first_ts"), col("last_ts")),
      SessionizeOracleSql),

    // ordered funnel, earliest-completion semantics (view → click →
    // purchase, strictly-after on the micros timeline); the single-pass
    // sorted fold equals the oracle's chained-min CTEs by induction over
    // the per-user event order. The value floor thins the stream so every
    // stage 0..3 is populated at every gate scale (measured: 13/32/38/67
    // users at sf0.01) — unthinned, all users complete trivially.
    Gate("q_funnel", (s, d) =>
      EventAnalytics.funnel(
        Tables.table(s, d, "events").filter(col("value") >= 80),
        Seq("view", "click", "purchase")),
      "WITH ev AS (SELECT * FROM events WHERE value >= 80 AND ts IS NOT NULL), " +
        "base AS (SELECT DISTINCT user_id FROM ev WHERE event_type IN ('view','click','purchase')), " +
        "s1 AS (SELECT user_id, min(epoch_us(ts)) AS ts_1 FROM ev WHERE event_type = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS ts_2 FROM ev e JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.ts_1 GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS ts_3 FROM ev e JOIN s2 ON e.user_id = s2.user_id " +
        "WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.ts_2 GROUP BY 1) " +
        "SELECT base.user_id, CAST(CASE WHEN ts_1 IS NULL THEN 0 WHEN ts_2 IS NULL THEN 1 " +
        "WHEN ts_3 IS NULL THEN 2 ELSE 3 END AS BIGINT) AS stage, ts_1, ts_2, ts_3 " +
        "FROM base LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"),

    // windowed funnel conversion (complete view→click→purchase within 7
    // days of ANY anchor): the latest-start DP searches anchors exactly
    // where the greedy earliest-anchor would time out; same value floor
    // as q_funnel (converted 23/150 at sf0.01 — both outcomes populated)
    Gate("q_funnel_window", (s, d) =>
      EventAnalytics.funnelWindow(
        Tables.table(s, d, "events").filter(col("value") >= 80),
        Seq("view", "click", "purchase"),
        windowMs = 7L * 86400 * 1000),
      "WITH RECURSIVE ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, " +
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

    // cohort retention matrix on epoch-aligned 3-day periods; the value
    // floor sparsifies activity so cohorts actually decay (4 cohorts,
    // cell counts 1..93 at sf0.01 — unthinned every cell is all-users)
    Gate("q_retention", (s, d) =>
      EventAnalytics.retention(
        Tables.table(s, d, "events").filter(col("value") >= 75),
        periodDays = 3),
      "WITH p AS (SELECT user_id, epoch_us(ts) // 259200000000 AS period FROM events WHERE value >= 75 AND ts IS NOT NULL), " +
        "a AS (SELECT DISTINCT user_id, period FROM p), " +
        "c AS (SELECT user_id, min(period) AS cohort FROM p GROUP BY 1) " +
        "SELECT c.cohort, a.period - c.cohort AS period_offset, count(*) AS n_users " +
        "FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2"),

    // first-order Markov transition counts + integer permille shares
    Gate("q_transitions", (s, d) =>
      EventAnalytics.transitions(Tables.table(s, d, "events")),
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events WHERE ts IS NOT NULL), " +
        "l AS (SELECT user_id, event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type FROM e), " +
        "p AS (SELECT prev_type, event_type, count(*) AS n FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, event_type, n, n * 1000 // CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS permille FROM p"),

    // per-user daily resample + forward fill (pandas resample().ffill() /
    // locf): value-thinned so real gaps exist; spine + last-non-null
    // window, all integer
    Gate("q_gapfill", (s, d) =>
      EventAnalytics.gapFill(
        Tables.table(s, d, "events").filter(col("value") >= 75),
        periodDays = 1),
      "WITH pc AS (SELECT user_id, epoch_us(ts) // 86400000000 AS period, " +
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

    // rolling 2σ anomaly flags over the gap-filled daily series — the
    // z-score test as an exact integer cross-multiplication (no sqrt):
    // (n·x − Σx)² > k²(n·Σx² − (Σx)²) over a 7-day trailing frame.
    // NOTE on `div`: Spark's div truncates toward zero, DuckDB's //
    // floors — they agree ONLY for non-negative operands. value_milli
    // here is ≥ 75000 (the value >= 75 filter), so the scaling is exact;
    // when copying this idiom over inputs that may go negative, use
    // floor-division (floor(x / 1000)) on the Spark side instead.
    Gate("q_anomaly", (s, d) => {
      val series = EventAnalytics.gapFill(
        Tables.table(s, d, "events").filter(col("value") >= 75),
        periodDays = 1)
        .select(col("user_id"), col("period"),
          expr("value_milli div 1000").as("x"))
      EventAnalytics.rollingAnomalies(series, k = 2, window = 7,
        minPeriods = 4)
    },
      "WITH pc AS (SELECT user_id, epoch_us(ts) // 86400000000 AS period, " +
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

    // throttle dedup: keep an event iff ≥ 24h after the last KEPT event of
    // the same (user, type) — stateful serial decision, oracled via a
    // recursive CTE that walks each group's rank chain
    Gate("q_throttle", (s, d) =>
      EventAnalytics.throttle(Tables.table(s, d, "events"),
        minGapMs = 24L * 3600 * 1000),
      "WITH RECURSIVE ranked AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, " +
        "row_number() OVER (PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS rn FROM events WHERE ts IS NOT NULL), " +
        "walk AS (SELECT user_id, event_type, event_id, ts_us, rn, ts_us AS last_kept, TRUE AS kept " +
        "FROM ranked WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT r.user_id, r.event_type, r.event_id, r.ts_us, r.rn, " +
        "CASE WHEN r.ts_us - w.last_kept >= 86400000000 THEN r.ts_us ELSE w.last_kept END AS last_kept, " +
        "(r.ts_us - w.last_kept >= 86400000000) AS kept " +
        "FROM ranked r JOIN walk w ON r.user_id = w.user_id AND r.event_type = w.event_type AND r.rn = w.rn + 1) " +
        "SELECT user_id, event_type, event_id, ts_us FROM walk WHERE kept"),

    // exponentially decayed per-event-type daily counts (alpha = 0.9/day
    // EWMA): the trending-score fold, integer-exact so the recursive-CTE
    // oracle replays every truncating step; all 5 types decay to the
    // same global end day so scores are cross-key comparable
    Gate("q_decayed_counts", (s, d) =>
      EventAnalytics.decayedCounts(Tables.table(s, d, "events"),
        "event_type", alphaPermille = 900, periodDays = 1),
      // decayed-count replay: the recursive CTE walks each key's period
      // chain from its first event day to the GLOBAL end day, applying the
      // identical truncating step ((s*900)//1000 + n — operands are
      // non-negative, so DuckDB's floor-// equals Spark's trunc-div)
      "WITH RECURSIVE ev AS (SELECT event_type AS key, " +
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
        "FROM r LEFT JOIN c ON c.key = r.key AND c.p = r.p")
  )
}
