package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Event-sequence analytics over the `events` table shape
 * (event_id, ts, user_id, event_type, value, props).
 *
 * The reference's only sequence-shaped operator is the grouped
 * top-N-earliest coprocessor (TopXEndpoint.java:58-123 — "N earliest
 * timestamps per distinct reference value"); this module is the idiomatic
 * widening of that family: ordered funnels, cohort retention, Markov
 * transitions, and throttle-style in-order dedup. All outputs are integer
 * (epoch-micros longs, counts, permille ratios) so DuckDB oracles replay
 * bit-exactly.
 *
 * Null semantics shared by every operator here: events with a null
 * timestamp are IGNORED (dropped before any fold/window) — a null time
 * has no position on the timeline, and letting it reach a sorted fold
 * would poison the fold state via three-valued logic while engines
 * disagree on null sort order (Spark nulls-first vs DuckDB nulls-last).
 *
 * Scale posture shared by every fold here: ONE shuffle keyed by the
 * entity id (user_id or (user_id, event_type)); per-entity history is
 * folded scan-locally with higher-order array functions, never a
 * driver-side collect and never a second shuffle. Per-entity state is
 * bounded by that entity's own event count — the same bound [[sessionize]]
 * already accepts; a pathologically hot entity should be pre-split with
 * the salted variants ([[sessionizeSalted]], [[twapSalted]]).
 *
 * The time-window operators at the end ([[windowedCounts]],
 * [[hoppingCounts]], [[sessionCounts]], [[errorClickJoinOuter]],
 * [[sessionize]]) are plain Catalyst plans: `window()`,
 * `session_window()`, an interval join and a lag-over-window island
 * count.
 */
object EventAnalytics {

  private def tsUs: Column = expr("unix_micros(ts)")

  /**
   * Ordered funnel with earliest-completion semantics: for each user,
   * `ts_i` is the earliest time step `i` is completed, where step 1 is the
   * user's earliest `steps(0)` event and step i>1 is the earliest
   * `steps(i-1)` event STRICTLY after `ts_{i-1}`. `stage` counts completed
   * steps. Users appear iff they have at least one event of any step type;
   * unreached steps are NULL.
   *
   * The single-pass fold over the (ts, event_id)-sorted per-user history
   * computes exactly the chained-min fixpoint: when an event of step i is
   * scanned, every earlier event is already folded, so `ts_{i-1}` is final
   * and the first qualifying step-i event wins. Equality ties (an event at
   * exactly `ts_{i-1}`) do NOT advance the funnel — strictly-after on the
   * micros timeline, identical on the oracle side.
   *
   * One shuffle (groupBy user_id); state per user is the array of that
   * user's step-typed events.
   */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnel steps must be non-empty and distinct, got $steps")
    val k = steps.size
    val stepIdx = steps.zipWithIndex.foldLeft(lit(-1)) { case (acc, (s, i)) =>
      when(col("event_type") === lit(s), lit(i)).otherwise(acc)
    }
    val unset = lit(-1L)
    // null-ts events must be dropped BEFORE the fold: a null time folded
    // into a step slot would both poison the slot (null blocks later
    // completions — `v === unset` is never true again) and diverge from
    // the chained-min formulation, which ignores nulls
    val folded = events
      .filter(col("event_type").isin(steps.map(x => x: Any): _*) &&
        col("ts").isNotNull)
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        stepIdx.as("step"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"),
        col("step")))).as("evs"))
      .withColumn("done",
        aggregate(col("evs"), array_repeat(unset, k), (acc, e) => {
          val s = e.getField("step")
          val t = e.getField("ts_us")
          // element_at is 1-based: element_at(acc, s) is the PREVIOUS step's
          // slot for 0-based step s; guarded behind s > 0 so ANSI mode never
          // sees index 0.
          val prevDone = when(s === lit(0), lit(true))
            .otherwise(element_at(acc, s) =!= unset && t > element_at(acc, s))
          transform(acc, (v, i) =>
            when(i === s && v === unset && prevDone, t).otherwise(v))
        }))
    val tsCols = (1 to k).map { i =>
      val v = element_at(col("done"), i)
      when(v =!= unset, v).as(s"ts_$i")
    }
    folded.select(
      col("user_id") +:
        size(filter(col("done"), v => v =!= unset)).cast("long").as("stage") +:
        tsCols: _*)
  }

  /**
   * Windowed funnel conversion: did the user complete `steps` in order
   * within `windowMs` of the chain's FIRST step, for ANY choice of
   * anchor? Unlike [[funnel]]'s earliest-anchor semantics, windowed
   * conversion requires searching anchors — the earliest step-1 event
   * may time out where a later one converts — so the fold runs the
   * standard latest-start DP: `dp(i)` = the latest chain-start time
   * among chains reaching step i using events at earlier positions.
   * Extending with a step-i event at time t is valid iff
   * `t − dp(i−1) ≤ windowUs`, and keeping the LATEST start dominates
   * every other chain (same reachability, maximal remaining slack), so
   * the ∃-decision is exact. `conv_ts` is the earliest completion time
   * over all valid chains; `converted` is its 0/1 flag.
   *
   * Chain order is the per-user (ts, event_id) arrival order (strictly
   * increasing positions; equal timestamps may chain — the window
   * constraint is on ts alone). One shuffle, scan-local fold, like the
   * rest of the module.
   */
  def funnelWindow(events: DataFrame, steps: Seq[String],
                   windowMs: Long): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnel steps must be non-empty and distinct, got $steps")
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val k = steps.size
    val windowUs = windowMs * 1000L
    val stepIdx = steps.zipWithIndex.foldLeft(lit(-1)) { case (acc, (s, i)) =>
      when(col("event_type") === lit(s), lit(i)).otherwise(acc)
    }
    val unset = lit(-1L)
    events
      .filter(col("event_type").isin(steps.map(x => x: Any): _*) &&
        col("ts").isNotNull)
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        stepIdx.as("step"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"),
        col("step")))).as("evs"))
      .withColumn("st",
        aggregate(col("evs"),
          struct(array_repeat(unset, k).as("dp"), unset.as("conv")),
          (acc, ev) => {
            val s = ev.getField("step")
            val t = ev.getField("ts_us")
            val dp = acc.getField("dp")
            val conv = acc.getField("conv")
            // element_at is 1-based: element_at(dp, s) = dp(s−1), guarded
            // behind s > 0 (ANSI-safe, same idiom as funnel's fold)
            val chainOk = when(s === lit(0), lit(true))
              .otherwise(element_at(dp, s) =!= unset &&
                t - element_at(dp, s) <= lit(windowUs))
            val newStart = when(s === lit(0), t).otherwise(element_at(dp, s))
            val newDp = transform(dp, (v, i) =>
              when(i === s && chainOk, greatest(v, newStart)).otherwise(v))
            val newConv =
              when(conv === unset && s === lit(k - 1) && chainOk, t)
                .otherwise(conv)
            struct(newDp.as("dp"), newConv.as("conv"))
          }))
      .select(col("user_id"),
        when(col("st.conv") =!= unset, 1L).otherwise(0L).as("converted"),
        when(col("st.conv") =!= unset, col("st.conv")).as("conv_ts"))
  }

  /**
   * Cohort retention matrix on epoch-aligned `periodDays` buckets:
   * cohort = a user's first-seen period, and each (cohort, offset) cell
   * counts users active `offset` periods after their cohort period.
   * Periods are `unix_micros(ts) div (periodDays·86400e6)` — integer,
   * calendar-agnostic, identical in any engine.
   *
   * Three shuffles, no join: distinct (user, period) activity, a
   * whole-partition window-min per user for the cohort (cheaper than a
   * separate aggregate + self-join — the window runs over the already-
   * deduped activity rows), and the final cell count, which is `count(*)`
   * because (user, period) rows are distinct and a user has one cohort.
   */
  def retention(events: DataFrame, periodDays: Int = 7): DataFrame = {
    val periodUs = periodDays * 86400L * 1000000L
    val p = events.filter(col("ts").isNotNull).select(col("user_id"),
      expr(s"unix_micros(ts) div ${periodUs}L").as("period"))
    p.distinct()
      .withColumn("cohort",
        min(col("period")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort"), (col("period") - col("cohort")).as("period_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /**
   * Per-key time-series gap filling with forward fill: bucket events
   * into epoch-aligned `periodDays` periods, aggregate an integer
   * metric per (key, period), then densify each key's timeline from its
   * first to its last active period and carry the last observed value
   * forward across the gaps. The standard resample→ffill pass (pandas
   * `resample().ffill()`, Timescale `locf`) for dashboard/feature
   * timelines.
   *
   * Output: user_id, period, `n` (events in that period, 0 in gaps),
   * `value_milli` (Σ floor(value·1000) that period), `filled_milli`
   * (value_milli forward-filled from the last non-gap period — gaps
   * repeat it, the first period is its own observation), `is_gap` 0/1.
   *
   * Plan: one aggregate keyed (user, period); the spine is a scan-local
   * `sequence()` explode off the per-user (min, max) aggregate — span
   * bounded by the corpus timeline (`require` guards a corrupt row from
   * exploding the spine); the fill is one window (`last` with
   * ignoreNulls) over the per-user ordered periods. All integers.
   */
  def gapFill(events: DataFrame, periodDays: Int = 1,
              maxPeriods: Int = 100000): DataFrame = {
    val periodUs = periodDays * 86400L * 1000000L
    val perCell = events.filter(col("ts").isNotNull)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div ${periodUs}L").as("period"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
      .groupBy(col("user_id"), col("period"))
      .agg(count(lit(1)).as("n"),
        sum(col("vm")).as("value_milli"))
    val spans = perCell.groupBy(col("user_id"))
      .agg(min(col("period")).as("__lo"), max(col("period")).as("__hi"))
    // a corrupt timestamp (year 30000) would otherwise explode the spine;
    // the guard is woven into the sequence bound so column pruning can't
    // elide it (the IntervalJoin lesson)
    val spine = spans
      .select(col("user_id"),
        explode(expr(
          s"sequence(__lo, IF(__hi - __lo >= $maxPeriods, " +
            "CAST(raise_error(concat('gapFill: key ', CAST(user_id AS STRING), " +
            s"' spans >= $maxPeriods periods - corrupt timestamps?')) AS BIGINT), " +
            "__hi))")).as("period"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("period").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(perCell, Seq("user_id", "period"), "left")
      .select(col("user_id"), col("period"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("value_milli"), lit(0L)).as("value_milli"),
        last(col("value_milli"), ignoreNulls = true).over(byUser)
          .as("filled_milli"),
        when(col("n").isNull, 1L).otherwise(0L).as("is_gap"))
  }

  /**
   * Exponentially decayed per-key event counts (discrete EWMA): events
   * bucket to fixed periods (period = ts_us div periodUs), every key's
   * series gap-fills with zeros up to the GLOBAL last period, and a
   * per-key sequential fold applies
   * `s_p = (s_{p-1} · alphaPermille) div 1000 + n_p` — the trending-score
   * primitive ("what is hot NOW") behind crawl re-visit scheduling and
   * topic-drift monitors. Decaying every key to the same global end makes
   * scores comparable across keys: a key that went quiet decays toward 0
   * like everything else. Steady-state headroom:
   * s ≤ n_max · 1000/(1000−alpha), far under 2⁶³ for any real rate.
   *
   * Integer-exact and inherently SEQUENTIAL (each step truncates before
   * the next), so the fold runs scan-local per key after ONE count
   * shuffle, and a recursive CTE replays it bit-for-bit (`div` == `//`
   * on these non-negative operands). The trajectory array builds by
   * per-step append — O(periods²) element copies per key — so
   * `maxPeriods` bounds the spine, woven into the sequence bound so
   * column pruning can't elide the guard (the [[gapFill]] lesson).
   *
   * Null keys/timestamps drop (module contract). Output: (key, period,
   * n, decayed) for every period from the key's first event to the
   * global end.
   */
  def decayedCounts(events: DataFrame, keyCol: String, alphaPermille: Int,
                    periodDays: Int = 1, maxPeriods: Int = 20000)
      : DataFrame = {
    require(alphaPermille >= 0 && alphaPermille <= 1000,
      s"alphaPermille must be in [0, 1000], got $alphaPermille")
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    require(maxPeriods >= 1, s"maxPeriods must be >= 1, got $maxPeriods")
    val periodUs = periodDays * 86400L * 1000000L
    val counts = events
      .filter(col(keyCol).isNotNull && col("ts").isNotNull)
      .select(col(keyCol).as("key"),
        expr(s"unix_micros(ts) div ${periodUs}L").as("period"))
      .groupBy(col("key"), col("period"))
      .agg(count(lit(1)).as("n"))
    // the global end is ONE row — broadcast it under every key
    val hi = counts.agg(max(col("period")).as("__hi"))
    val perKey = counts.groupBy(col("key"))
      .agg(map_from_entries(collect_list(struct(col("period"), col("n"))))
        .as("__cmap"),
        min(col("period")).as("__lo"))
      .crossJoin(broadcast(hi))
    perKey
      .select(col("key"), col("__cmap"),
        explode(expr(
          s"aggregate(sequence(__lo, IF(__hi - __lo >= $maxPeriods, " +
            "CAST(raise_error(concat('decayedCounts: key ', " +
            "CAST(key AS STRING), " +
            s"' spans >= $maxPeriods periods - corrupt timestamps?')) " +
            "AS BIGINT), __hi)), " +
            "CAST(array() AS ARRAY<STRUCT<p: BIGINT, s: BIGINT>>), " +
            "(acc, p) -> array_append(acc, named_struct('p', p, " +
            "'s', (IF(size(acc) = 0, 0L, element_at(acc, size(acc)).s) " +
            s"* $alphaPermille) div 1000 + coalesce(__cmap[p], 0L))))"))
          .as("t"))
      .select(col("key"), col("t.p").as("period"),
        coalesce(expr("__cmap[t.p]"), lit(0L)).as("n"),
        col("t.s").as("decayed"))
  }

  /**
   * Merge overlapping-or-touching half-open intervals [start, end) per
   * key into their coverage union — the span-algebra primitive behind
   * "how much of the timeline/document does this set of matches cover"
   * (redaction spans, crawl re-visit windows, contamination hit spans).
   * Touching intervals ([0,5) + [5,9)) merge: coverage is contiguous.
   *
   * One shuffle by key, then ONE per-key sorted window: the classic
   * sweep — an interval starts a new merged group iff its start is
   * strictly past the running max of prior ends (ties on (start, end)
   * are order-independent under max), then an island-id prefix sum and
   * a group-by. Never a global sort; per-key interval counts bound
   * window memory.
   *
   * Rows with a null key or bound are dropped (the module null
   * contract); an INVERTED interval (end < start) faults loudly via a
   * guard woven into the sweep's end value (column pruning can't elide
   * it — the gapFill lesson) rather than silently corrupting the
   * running max.
   *
   * Output: (keyCol, `start`, `end`, `n_merged`) — long bounds in the
   * input's units.
   */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
                     endCol: String): DataFrame = {
    val in = df
      .filter(col(keyCol).isNotNull && col(startCol).isNotNull &&
        col(endCol).isNotNull)
      .select(col(keyCol).as("__k"), col(startCol).cast("long").as("__s"),
        expr(s"IF($endCol < $startCol, " +
          s"CAST(raise_error(concat('mergeIntervals: inverted interval [', " +
          s"CAST($startCol AS STRING), ', ', CAST($endCol AS STRING), " +
          s"') for key ', CAST($keyCol AS STRING))) AS BIGINT), " +
          s"CAST($endCol AS LONG))").as("__e"))
    val ord = Window.partitionBy(col("__k")).orderBy(col("__s").asc, col("__e").asc)
    val islands = in
      .withColumn("__pm",
        max(col("__e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__pm").isNull || col("__s") > col("__pm"), 1L).otherwise(0L))
      .withColumn("__island",
        sum(col("__brk")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("__k"), col("__island"))
      .agg(min(col("__s")).as("start"), max(col("__e")).as("end"),
        count(lit(1)).as("n_merged"))
      .select(col("__k").as(keyCol), col("start"), col("end"), col("n_merged"))
  }

  /**
   * Rolling z-score anomaly detection over a per-key integer series:
   * flag period p iff |x_p − μ| > k·σ over the trailing `window` periods
   * (inclusive), evaluated WITHOUT floats or sqrt by cross-multiplying:
   *   (n·x − Σx)² > k² · (n·Σx² − (Σx)²)
   * (both sides are n²-scaled; the inequality is exact in Long
   * arithmetic). Windows shorter than `minPeriods` never flag (σ is
   * meaningless on 1-2 points). The series is expected dense per key —
   * compose over [[gapFill]]'s output so gaps contribute zeros instead
   * of silently shrinking the window.
   *
   * Overflow headroom: |n·x| ≤ window·max|x|, so the left side needs
   * window²·max|x|² < 2⁶³ — e.g. |x| < 3·10⁷ at window 100. Feed
   * unit-scaled values, not milli, when magnitudes are large; ANSI
   * faults loudly beyond the bound.
   *
   * One window pass over the (key-partitioned, period-ordered) series —
   * no extra shuffle when the input is already keyed that way.
   *
   * Null `valCol` rows are DROPPED at entry (the module's null contract,
   * same as null timestamps elsewhere): a null x has no place in a
   * z-test, and letting it through would inflate `n_window` while being
   * excluded from the sums — silently skewing the bound for every row
   * whose trailing frame contains it. [[gapFill]] never emits nulls, so
   * the composed path is unaffected.
   */
  def rollingAnomalies(series: DataFrame, k: Int = 3, window: Int = 7,
                       minPeriods: Int = 3,
                       keyCol: String = "user_id", ordCol: String = "period",
                       valCol: String = "x"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(window >= 2 && minPeriods >= 2 && minPeriods <= window,
      s"need 2 <= minPeriods <= window, got $minPeriods/$window")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(ordCol).asc)
      .rowsBetween(-(window - 1), 0)
    series
      .filter(col(valCol).isNotNull)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col(valCol)).over(w))
      .withColumn("__s2", sum(col(valCol) * col(valCol)).over(w))
      .select(col(keyCol), col(ordCol), col(valCol),
        col("__n").as("n_window"),
        ((col("__n") * col(valCol) - col("__s")) *
          (col("__n") * col(valCol) - col("__s"))).as("dev2_scaled"),
        (lit(k.toLong * k) * (col("__n") * col("__s2") - col("__s") * col("__s")))
          .as("bound_scaled"))
      .withColumn("is_anomaly",
        when(col("n_window") >= minPeriods &&
          col("dev2_scaled") > col("bound_scaled"), 1L).otherwise(0L))
  }

  /**
   * First-order Markov transition counts: per user, consecutive event-type
   * pairs in (ts, event_id) order, counted globally, with an integer
   * permille share of each `prev_type`'s outgoing transitions
   * (`n*1000 div total`). The per-user lag is the one shuffle; the share
   * is a window over the tiny (|types|²-bounded) pair table.
   */
  def transitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val pairs = events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    pairs.withColumn("permille",
      expr("n * 1000 div sum(n) over (partition by prev_type)"))
  }

  /**
   * Throttle dedup (in-order, stateful): per (user_id, event_type) in
   * (ts, event_id) order, keep an event iff it is the group's first or at
   * least `minGapMs` after the last KEPT event. The classic
   * notification/telemetry rate-limit — unlike gap-sessionization the
   * decision depends on kept state, so it is a serial fold, not a lag.
   *
   * One shuffle (groupBy key); the fold is scan-local over the group's
   * sorted history and emits the kept (event_id, ts_us) rows.
   */
  def throttle(events: DataFrame, minGapMs: Long): DataFrame = {
    require(minGapMs >= 0, s"minGapMs must be >= 0, got $minGapMs")
    val gapUs = minGapMs * 1000L
    val noneKept = lit(-1L) // ts_us is non-negative on this data model
    val emptyKept = array().cast("array<struct<ts_us:bigint,event_id:bigint>>")
    // a null-ts event folded first would be "kept" with a null timestamp
    // and poison the last-kept anchor (every later comparison goes null →
    // everything dropped) — null times are ignored, as in every operator
    // of this module
    events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), tsUs.as("ts_us"),
        col("event_id"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"))))
        .as("evs"))
      .withColumn("kept",
        aggregate(col("evs"),
          struct(noneKept.as("last"), emptyKept.as("kept")),
          (acc, e) => {
            val keep = acc.getField("last") === noneKept ||
              e.getField("ts_us") - acc.getField("last") >= lit(gapUs)
            struct(
              when(keep, e.getField("ts_us")).otherwise(acc.getField("last"))
                .as("last"),
              when(keep, concat(acc.getField("kept"), array(e)))
                .otherwise(acc.getField("kept")).as("kept"))
          },
          acc => acc.getField("kept")))
      .select(col("user_id"), col("event_type"),
        explode(col("kept")).as("e"))
      .select(col("user_id"), col("event_type"),
        col("e.event_id").as("event_id"), col("e.ts_us").as("ts_us"))
  }

  /**
   * OHLC (open/high/low/close) downsampling — the canonical irregular →
   * fixed-bucket time-series resample (candlesticks, metric rollups):
   * per (key, `bucketSeconds` bucket), the first and last value by
   * (ts, event_id) order plus min/max/sum/count, money carried as exact
   * integer cents.
   *
   * Plan shape: ONE map-side-combined hash aggregate and nothing else —
   * first/last ride min/max over the (ts_us, event_id, cents) struct
   * (lexicographic; event_id uniqueness makes the pick total), so a
   * 100 TB event log reduces in a single pass with no window sort and
   * output bounded by keys × buckets.
   */
  def downsampleOhlc(events: DataFrame, keyCol: String = "event_type",
                     bucketSeconds: Long = 86400L,
                     valueCol: String = "value"): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be > 0: $bucketSeconds")
    val bucketUs = bucketSeconds * 1000000L
    events
      .filter(col("ts").isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), tsUs.as("ts_us"), col("event_id"),
        round(col(valueCol) * 100).cast("long").as("cents"))
      .withColumn("bucket_start",
        expr(s"(ts_us div ${bucketUs}L) * ${bucketSeconds}L"))
      .groupBy(col(keyCol), col("bucket_start"))
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("ts_us"), col("event_id"), col("cents")))
          .getField("cents").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max(struct(col("ts_us"), col("event_id"), col("cents")))
          .getField("cents").as("close_cents"),
        sum(col("cents")).as("sum_cents"))
  }

  /**
   * Time-weighted average (TWAP): per key, each observation holds from
   * its timestamp to the NEXT observation's (the step-function / last-
   * observation-carried-forward integral), so
   * twap = Σ valueᵢ·(tᵢ₊₁ − tᵢ) / Σ(tᵢ₊₁ − tᵢ) — the standard correction
   * when unevenly-sampled points would bias a plain mean. The last point
   * bounds no interval. Output per key: `n_intervals`, `dur_us`,
   * `weighted_cents_us` (Σ cents·µs), `twap_cents` (integer div).
   *
   * DEFAULT IMPLEMENTATION: the bucketed two-level form of
   * [[twapSalted]] — TWAP keys are typically LOW-cardinality (symbols,
   * event types), and the single per-key lead window of the naive plan
   * collapses parallelism to keys-many giant sorted partitions (measured
   * 8.3× time for 10× data at sf10 with 5 keys; the bucketed form probed
   * 1.24×). The two forms are output-identical (property-tested on
   * tie-rich data at several bucket widths; same oracle row at 4 gate
   * scales), so the scale-safe plan is the default and [[twapPlain]]
   * remains as the parity mode for differential testing.
   */
  def twap(events: DataFrame, keyCol: String = "event_type",
           valueCol: String = "value",
           bucketSeconds: Long = 86400L): DataFrame =
    twapSalted(events, keyCol, bucketSeconds, valueCol)

  /**
   * The naive single-window TWAP — parity mode for [[twap]] (identical
   * output; kept for differential testing, NOT the default: with few
   * distinct keys the per-key lead window collapses parallelism, the
   * measured sf10 weak mark this default closed).
   *
   * Plan shape: one per-key window (lead) — the single shuffle — then a
   * map-side-combined aggregate to keys-sized output. Σ cents·µs is
   * carried as a long: exact while |cents|·span_µs < 2⁶³ (~decades at
   * 10⁶ cents), the same overflow posture as the repo's other
   * integer-integral operators.
   */
  def twapPlain(events: DataFrame, keyCol: String = "event_type",
                valueCol: String = "value"): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    events
      .filter(col("ts").isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), tsUs.as("ts_us"), col("event_id"),
        round(col(valueCol) * 100).cast("long").as("cents"))
      .withColumn("next_us", lead(col("ts_us"), 1).over(byKey))
      .filter(col("next_us").isNotNull)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("next_us") - col("ts_us")).as("dur_us"),
        sum(col("cents") * (col("next_us") - col("ts_us")))
          .as("weighted_cents_us"))
      .withColumn("twap_cents",
        expr("weighted_cents_us div greatest(dur_us, 1)"))
  }

  /**
   * Hot-key-resistant TWAP — [[twap]]'s implementation: identical
   * output to [[twapPlain]], but the per-key timeline is split into
   * `bucketSeconds` time buckets so the lead window runs INSIDE
   * (key, bucket) partitions — with few distinct keys the plain form
   * collapses to keys-many partitions and one giant sort per key
   * (measured 8.3× time for 10× data at sf10),
   * while this form keeps partitions bounded by the bucket width.
   * Buckets stitch exactly: each bucket's within-bucket intervals
   * aggregate locally, and the bucket's LAST observation holds until
   * the NEXT non-empty bucket's first timestamp — a lead over the
   * buckets-sized per-(key, bucket) summary table, the same
   * two-level construction as `sessionizeBatchSalted`/`asofJoinSalted`.
   */
  def twapSalted(events: DataFrame, keyCol: String = "event_type",
                 bucketSeconds: Long = 86400L,
                 valueCol: String = "value"): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be > 0: $bucketSeconds")
    val bucketUs = bucketSeconds * 1000000L
    val pts = events
      .filter(col("ts").isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), tsUs.as("ts_us"), col("event_id"),
        round(col(valueCol) * 100).cast("long").as("cents"))
      .withColumn("bkt", expr(s"ts_us div ${bucketUs}L"))
    val inBucket = Window.partitionBy(col(keyCol), col("bkt"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val local = pts
      .withColumn("next_us", lead(col("ts_us"), 1).over(inBucket))
      .groupBy(col(keyCol), col("bkt"))
      .agg(
        count(lit(1)).as("n_pts"),
        sum(when(col("next_us").isNotNull, col("next_us") - col("ts_us"))
          .otherwise(0L)).as("dur_in"),
        sum(when(col("next_us").isNotNull,
          col("cents") * (col("next_us") - col("ts_us"))).otherwise(0L))
          .as("w_in"),
        min(struct(col("ts_us"), col("event_id"))).getField("ts_us")
          .as("first_us"),
        max(struct(col("ts_us"), col("event_id"), col("cents")))
          .getField("cents").as("last_cents"),
        max(struct(col("ts_us"), col("event_id"))).getField("ts_us")
          .as("last_us"))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("bkt").asc)
    local
      .withColumn("next_first", lead(col("first_us"), 1).over(byKey))
      .groupBy(col(keyCol))
      .agg(
        // every point except the key's single global last bounds one
        // interval — the last bucket's last point is the one exception
        (sum(col("n_pts")) - lit(1L)).as("n_intervals"),
        sum(col("dur_in") + when(col("next_first").isNotNull,
          col("next_first") - col("last_us")).otherwise(0L)).as("dur_us"),
        sum(col("w_in") + when(col("next_first").isNotNull,
          col("last_cents") * (col("next_first") - col("last_us")))
          .otherwise(0L)).as("weighted_cents_us"))
      .filter(col("n_intervals") > 0)
      .withColumn("twap_cents",
        expr("weighted_cents_us div greatest(dur_us, 1)"))
      .select(col(keyCol), col("n_intervals"), col("dur_us"),
        col("weighted_cents_us"), col("twap_cents"))
  }

  /**
   * Grouped integer OLS trend — slope/intercept of the least-squares
   * line per key over an integer series (day index → daily volume), the
   * drift-TREND complement of [[cusum]]'s change-point alarm:
   * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), emitted as
   * `slope_micro` (×10⁶, integer div) and `intercept` in y units at
   * x = the group's min x. Each x is RE-ORIGINED to that min first —
   * slope is shift-invariant and the small x' keeps every moment term
   * far from long overflow (exact while n·Σ|x'y| < 2⁵⁷ ≈ decades of
   * daily buckets at 10⁹-unit values). A constant-x group has an
   * undefined slope and reports 0 via the guarded denominator.
   *
   * Plan shape: one keys-sized min-x aggregate broadcast back, then ONE
   * map-side-combined moments aggregate — the series never sorts and
   * never shuffles more than its (key, x) collapse.
   */
  def groupedTrend(series: DataFrame, keyCol: String, xCol: String,
                   yCol: String): DataFrame = {
    val x0 = series.groupBy(col(keyCol)).agg(min(col(xCol)).as("__x0"))
    series.join(broadcast(x0), Seq(keyCol))
      .select(col(keyCol), (col(xCol) - col("__x0")).as("__x"),
        col(yCol).as("__y"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum("__x").as("sx"), sum("__y").as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"))
      .withColumn("slope_micro", expr(
        "(1000000 * (n * sxy - sx * sy)) div greatest(n * sxx - sx * sx, 1)"))
      .withColumn("intercept", expr(
        "(sy - (slope_micro * sx) div 1000000) div n"))
      .select(col(keyCol), col("n"), col("slope_micro"), col("intercept"))
  }

  /**
   * One-sided CUSUM drift detection (Page '54) — the standard
   * change-point alarm for corpus-ingest monitoring (a source's daily
   * volume creeping up, a quality metric drifting): per key, over
   * `bucketSeconds` bucket sums xₜ (integer cents),
   * Sₜ = max(0, Sₜ₋₁ + xₜ − target − slack) with the alarm Sₜ > h,
   * where target is the key's own mean bucket sum and slack/h are
   * permille-of-target parameters. All integer; both the running Sₜ and
   * the flag are emitted per (key, bucket).
   *
   * Plan shape: one map-side-combined (key, bucket) aggregate collapses
   * the corpus; the recursion then runs scan-local per key over the
   * sorted bucket list via an `aggregate` fold — state is bounded by
   * buckets-per-key (calendar-bounded: the time span over the bucket
   * width), the same posture as [[gapFill]]. The corpus itself never
   * sees a window or a second shuffle.
   */
  def cusum(events: DataFrame, keyCol: String = "event_type",
            bucketSeconds: Long = 86400L, slackPermille: Int = 0,
            hPermille: Int = 500, valueCol: String = "value"): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be > 0: $bucketSeconds")
    require(slackPermille >= 0 && hPermille >= 0,
      s"slack/h permille must be >= 0: $slackPermille/$hPermille")
    val bucketUs = bucketSeconds * 1000000L
    val emptyOut = array()
      .cast("array<struct<bucket_start:bigint,x:bigint,s:bigint>>")
    events
      .filter(col("ts").isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol),
        expr(s"(unix_micros(ts) div ${bucketUs}L) * ${bucketSeconds}L")
          .as("bucket_start"),
        round(col(valueCol) * 100).cast("long").as("cents"))
      .groupBy(col(keyCol), col("bucket_start"))
      .agg(sum(col("cents")).as("x"))
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("bucket_start"), col("x"))))
        .as("bs"),
        expr("sum(x) div count(1)").as("target"))
      .withColumn("slack", expr(s"(target * ${slackPermille}L) div 1000"))
      .withColumn("h", expr(s"(target * ${hPermille}L) div 1000"))
      .withColumn("run",
        aggregate(col("bs"),
          struct(lit(0L).as("s"), emptyOut.as("out")),
          (acc, e) => {
            val s = greatest(
              acc.getField("s") + e.getField("x") - col("target") - col("slack"),
              lit(0L))
            struct(s.as("s"),
              concat(acc.getField("out"), array(struct(
                e.getField("bucket_start").as("bucket_start"),
                e.getField("x").as("x"), s.as("s")))).as("out"))
          },
          acc => acc.getField("out")))
      .select(col(keyCol), col("target"), col("h"), explode(col("run")).as("r"))
      .select(col(keyCol), col("r.bucket_start").as("bucket_start"),
        col("r.x").as("x"), col("target"), col("r.s").as("cusum"),
        when(col("r.s") > col("h"), 1L).otherwise(0L).as("alarm"))
  }

  /** Tumbling-window counts per event_type: one `window()` group per
    * (window, event_type), with the integer `value_milli` sum. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_milli"))

  /**
   * HOPPING (sliding) window counts: duration `window_`, slide `slide`
   * < duration, so each event contributes to duration/slide overlapping
   * windows (the rate-over-trailing-hour-updated-every-15-min report
   * tumbling windows can't express). Spark's `window()` expands the
   * replicas natively; epoch-aligned starts, so the integer oracle
   * unrolls the same k = duration/slide window memberships. Null-ts
   * rows are dropped (the module contract — a null time belongs to no
   * window, and Spark would otherwise emit a null-window group).
   */
  def hoppingCounts(events: DataFrame,
                    window_ : String = "1 hour",
                    slide: String = "15 minutes"): DataFrame =
    events
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_milli"))

  /**
   * SESSION-window aggregates via Spark's native `session_window`: a
   * dynamic-length window that extends while events keep arriving within
   * `gap` of the LAST event and closes after a quiet gap — per-user
   * activity bursts without fixed boundaries (what tumbling/hopping
   * windows can't express; the declarative sibling of [[sessionize]]).
   * An event at EXACTLY gap after the previous one still MERGES —
   * per-event windows [t, t+gap) join while next.start ≤ current.end, so
   * only a strictly-longer-than-gap quiet period splits (spec-pinned at
   * ±1 µs); `session_end` = last event + gap. Null-ts rows are dropped
   * (the module contract).
   */
  def sessionCounts(events: DataFrame,
                    gap: String = "30 minutes"): DataFrame =
    events
      .filter(col("ts").isNotNull)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("value_milli"))

  /**
   * LEFT OUTER interval join: each error event matched to clicks by the
   * same user within the preceding `intervalMs`; an error with NO click
   * in its window still emits, with a NULL click_id.
   */
  def errorClickJoinOuter(events: DataFrame,
                          intervalMs: Long = 10 * 60 * 1000L): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("error_ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    errors.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("error_ts") &&
        col("click_ts") >= col("error_ts") - expr(s"INTERVAL ${intervalMs / 1000} SECONDS"),
      "left_outer")
      .select(col("error_id"), col("click_id"), col("user_id"))
  }

  /** Gap sessionization: session = cumulative count of gap-breaks per
    * user (classic windowed gaps-and-islands). */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    // order by the millisecond-truncated time (+ event_id tiebreak) so
    // external oracles agree even when events share a ms
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    events
      .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > gapMs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("first_ts"),
        max(col("ts_ms")).as("last_ts"))
  }

  /**
   * Skew-resistant sessionize: identical output to [[sessionize]], but
   * the event-level window runs over (user_id, time-bucket), so a hot
   * user's events spread across `buckets` tasks. Phase 2 re-sessionizes the
   * per-bucket SESSION SUMMARIES per user — merging sessions that span a
   * bucket boundary (gap ≤ gapMs across it) and renumbering — which is the
   * same per-user serial pass but over sessions, not events: orders of
   * magnitude smaller on the dense-traffic keys that cause the skew in the
   * first place. (A hot user whose every event is its own session still
   * degrades to the unsalted cost — inherent to emitting per-user ordinals.)
   * Measured at one user owning 50% of 8M rows: 12.5 s → ~5 s.
   *
   * `tsRange` — the (min, max) of `unix_micros(ts) div 1000` when the
   * caller already knows it (partition metadata, an upstream agg) — skips
   * the one-pass span probe job, mirroring [[graft.api.AsofJoin.asofJoinSalted]]'s
   * parameter of the same name. Any superset of the true range is valid
   * (buckets just get coarser).
   */
  def sessionizeSalted(events: DataFrame, gapMs: Long = 30 * 60 * 1000L,
                       buckets: Int = 32,
                       tsRange: Option[(Long, Long)] = None): DataFrame = {
    val e = events.withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
    val (minTs, maxTs) = tsRange.getOrElse {
      val Array(mn, mx) = e.agg(min(col("ts_ms")), max(col("ts_ms")))
        .head().toSeq.map(v => Option(v).map(_.asInstanceOf[Long]).getOrElse(0L)).toArray
      (mn, mx)
    }
    val span = math.max(1L, maxTs - minTs + 1)
    val tagged = e.withColumn("__b",
      ((col("ts_ms") - lit(minTs)) * lit(buckets.toLong) / lit(span)).cast("int"))

    // phase 1: sessions within (user, bucket) — buckets are time ranges, so
    // in-bucket order is global order restricted to the bucket
    val byUserBucket = Window.partitionBy(col("user_id"), col("__b"))
      .orderBy(col("ts_ms").asc, col("event_id").asc)
    val local = tagged
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(byUserBucket))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > gapMs, 1).otherwise(0))
      .withColumn("local_idx", sum(col("new_session")).over(
        byUserBucket.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("__b"), col("local_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("first_ts"),
        max(col("ts_ms")).as("last_ts"))

    // phase 2: sessionize the summaries (sessions are time-disjoint and
    // bucket boundaries are time boundaries, so first_ts order is global
    // session order); boundary sessions with cross-bucket gap ≤ gapMs merge
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("first_ts").asc)
    local
      .withColumn("prev_last", lag(col("last_ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_last").isNull || col("first_ts") - col("prev_last") > gapMs, 1)
          .otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("first_ts")).as("first_ts"),
        max(col("last_ts")).as("last_ts"))
  }
}
