package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic cardinality sketches.
 *
 * Companion to the Space-Saving heavy hitters
 * ([[org.apache.spark.sql.graft.SpaceSavingTopK]]): both are mergeable
 * bounded-state summaries whose behavior is exactly replayable in SQL
 * because the hash is md5 — no engine-private seed, so a DuckDB oracle
 * recomputes the identical sketch rather than trusting an error bound.
 */
object Sketches {

  /**
   * KMV (k-minimum-values) distinct-count estimate per group
   * (Bar-Yossef et al. '02): hash each value to 32 bits (first 8 md5 hex
   * chars), keep the k smallest DISTINCT hashes per group, and estimate
   *   |D| ≈ (k-1) · 2³² / h_k
   * where h_k is the k-th smallest hash; groups holding fewer than k
   * distinct hashes report their EXACT count (`n_kept < k` ⇒
   * `est_distinct = n_kept`). Standard error is ~1/√(k−2). Estimates are
   * of distinct 32-bit hashes — 32-bit collisions among distinct values
   * merge, the usual sketch caveat (negligible until ~2¹⁶ distinct per
   * group; use a longer prefix above that).
   *
   * Scale shape: values are hashed AT THE SCAN, so only (group, hash32)
   * pairs ever shuffle — once for the hash dedup, once more as ≤k-row
   * bounded heaps ([[org.apache.spark.sql.graft.TopNByOrd]] partials) per
   * map task × group. The payload column never moves.
   *
   * Output: groupCol, `n_kept` (min(k, distinct hashes)), `est_distinct`.
   */
  def distinctKmv(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int): DataFrame = {
    require(k >= 2 && k <= (1 << 20), s"k must be in [2, 2^20], got $k")
    // hash 0 maps to 1: h_k is a divisor, and a value whose md5 opens with
    // eight hex zeros (p ≈ 2⁻³² per distinct value, but input-controlled)
    // would otherwise hard-fail the estimate with DIVIDE_BY_ZERO under
    // ANSI. Merging hash 0 into hash 1 shifts the estimate negligibly;
    // the DuckDB oracle applies the identical mapping.
    val h = greatest(
      conv(substring(md5(col(valueCol).cast("string")), 1, 8), 16, 10)
        .cast("long"),
      lit(1L))
    // distinct-capped bottom-k heap (r14): the former
    // `.distinct() → TopNByOrd` form paid a full-width exchange + hash
    // aggregate of every (group, hash) row just to dedup before the
    // bounded heap; [[org.apache.spark.sql.graft.TopNDistinctLong]] dedups
    // INSIDE the map-side heap, so the only exchange carries ≤ k rows per
    // task × group (output bit-identical — bottom-k of a distinct set)
    val hashes = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), h.as("__h"))
    val minK = GraftShims.column(org.apache.spark.sql.graft.TopNDistinctLong(
      GraftShims.expression(col("__h")), k).toAggregateExpression())
    hashes.groupBy(col(groupCol)).agg(minK.as("__mins"))
      .select(col(groupCol),
        size(col("__mins")).cast("long").as("n_kept"),
        when(size(col("__mins")) < k, size(col("__mins")).cast("long"))
          .otherwise(
            expr(s"(${k - 1} * 4294967296L) div element_at(__mins, $k)"))
          .as("est_distinct"))
  }

  /**
   * HyperLogLog distinct-count estimate per group (Flajolet et al. '07),
   * fully DETERMINISTIC and integer-exact so a SQL oracle rebuilds the
   * identical sketch — the replayable twin of Spark's own
   * `approx_count_distinct` (whose HLL++ uses an engine-private hash and
   * bias tables, so it can never be cross-engine-gated).
   *
   * Register layout on the 32-bit md5-prefix hash (0 mapped to 1, same as
   * [[distinctKmv]]): the top `b` bits pick one of m = 2^b registers, and
   * ρ = leading-zeros-within-the-remaining-(32−b)-bits + 1 updates the
   * register max. The harmonic mean is computed EXACTLY in integers by
   * scaling each 2^−M_j term to 2^(32−M_j) (registers never hit store
   * 2^32), so
   *   est = (α_permille · m² · 2³²) div (1000 · Σ_j 2^(32−M_j))
   * replays bit-for-bit in any engine — no float, no pow, no ln. The
   * standard small-range linear-counting correction needs ln and is
   * deliberately NOT applied; `n_hit` (registers touched) is emitted so a
   * caller can apply it — use [[distinctKmv]] when exact small counts
   * matter (it reports them exactly).
   *
   * Standard error ≈ 1.04/√m (13% at the default b=6). `b` capped at 10
   * so α·m²·2³² stays in Long range.
   *
   * Scale shape: values hash AT THE SCAN; the (group, register) partial
   * max combines map-side to ≤ m rows per group per task, so the shuffle
   * carries bounded register tables, never values — the classic
   * mergeable-sketch contract.
   *
   * Output: groupCol, `n_hit` (registers touched, ≤ m), `est_distinct`.
   */
  def distinctHll(df: DataFrame, groupCol: String, valueCol: String,
                  b: Int = 6): DataFrame =
    hllEstimate(hllRegisters(df, groupCol, valueCol, b), groupCol, b)

  private def alphaPermille(b: Int): Long = b match {
    case 4 => 673
    case 5 => 697
    case 6 => 709
    case _ => math.round(721.3 / (1 + 1.079 / (1L << b))) // Flajolet's α_m
  }

  /**
   * The HLL sketch STATE as a DataFrame: one (group, `register`,
   * `rho_max`) row per touched register — the mergeable artifact behind
   * [[distinctHll]]. Persist this per shard/partition/day (≤ 2^b rows per
   * group, parquet-friendly), then union any set of shard tables into
   * [[hllEstimate]]: register max commutes, so merge-then-estimate equals
   * the estimate over the concatenated raw data EXACTLY — the classic
   * mergeable-sketch contract that makes 100 TB incremental
   * distinct-counting a metadata operation instead of a corpus re-scan.
   */
  def hllRegisters(df: DataFrame, groupCol: String, valueCol: String,
                   b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 10, s"b must be in [4, 10], got $b")
    val wBits = 32 - b
    val wMod = 1L << wBits
    val h = greatest(
      conv(substring(md5(col(valueCol).cast("string")), 1, 8), 16, 10)
        .cast("long"),
      lit(1L))
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), h.as("__h"))
      .select(col(groupCol), expr(s"__h div ${wMod}L").as("register"),
        expr(s"__h % ${wMod}L").as("__w"))
      .select(col(groupCol), col("register"),
        when(col("__w") === 0L, lit(wBits + 1L))
          .otherwise(lit(wBits.toLong) - length(bin(col("__w"))) + 1L)
          .as("rho"))
      .groupBy(col(groupCol), col("register"))
      .agg(max(col("rho")).as("rho_max"))
  }

  /**
   * Bottom-k uniform-sample quantile sketch — the quantile member of the
   * deterministic sketch trio (with [[distinctKmv]]/[[distinctHll]] for
   * cardinality and SpaceSaving for heavy hitters). The k rows with the
   * smallest md5(rowId) hashes form an order-independent uniform sample
   * of each group (the classic bottom-k sketch), and the reported
   * quantiles are the EXACT lower quantiles of that sample:
   * `q_p = sample_sorted[(p·(n−1)) div 1000]`. Sampling error is the
   * usual O(1/√k) quantile bound; everything after the hash is integer,
   * so a SQL oracle rebuilds the identical sketch.
   *
   * `idCol` must be a UNIQUE row key within the group (it drives the
   * sample membership); `valueCol` must be integral (cast/scale floats
   * to cents/milli upstream, as the gates do). Hash ties break by value
   * — total order, deterministic cross-engine.
   *
   * Mergeable: [[quantileSample]] exposes the (group, hv, v) bottom-k
   * rows; union shard tables and keep the k smallest (hv, v) per group —
   * min-k by hash commutes, so merge-then-quantile equals
   * quantile-over-union exactly (spec-pinned).
   *
   * Scale shape: rows hash AT THE SCAN; the bounded [[TopNByOrd]] heaps
   * combine map-side to ≤ k rows per task × group, so the shuffle carries
   * samples, never the corpus — same contract as KMV.
   *
   * Output: groupCol, `n_sample`, one `q<p>` column per requested
   * permille (e.g. q500 = median estimate).
   */
  def quantileSketch(df: DataFrame, groupCol: String, idCol: String,
                     valueCol: String, k: Int,
                     qsPermille: Seq[Int] = Seq(250, 500, 750)): DataFrame = {
    require(qsPermille.nonEmpty && qsPermille.forall(p => p >= 0 && p <= 1000),
      s"quantile permilles must be in [0, 1000], got $qsPermille")
    val base = quantileSample(df, groupCol, idCol, valueCol, k)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("v"))).as("__vals"))
    val qCols = qsPermille.map { p =>
      expr(s"element_at(__vals, CAST(($p * (size(__vals) - 1)) div 1000 AS INT) + 1)")
        .as(s"q$p")
    }
    base.select(col(groupCol) +:
      size(col("__vals")).cast("long").as("n_sample") +: qCols: _*)
  }

  /**
   * The mergeable state behind [[quantileSketch]]: per group, the k rows
   * with the smallest `hv = md5₃₂(rowId)` (0→1, as everywhere), as
   * (groupCol, `hv`, `v`) rows. Persist per shard; the k smallest
   * (hv, v) rows per group of any union of shard tables are exactly the
   * sample of the concatenated data (min-k of a union of min-k's is the
   * global min-k).
   */
  def quantileSample(df: DataFrame, groupCol: String, idCol: String,
                     valueCol: String, k: Int): DataFrame = {
    val h = greatest(
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long"),
      lit(1L))
    bottomK(df.filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol), h.as("__h"),
        col(valueCol).cast("long").as("__v")), groupCol, k)
  }

  private def bottomK(rows: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= (1 << 20), s"k must be in [2, 2^20], got $k")
    import org.apache.spark.sql.GraftShims
    val minK = GraftShims.column(org.apache.spark.sql.graft.TopNByOrd(
      GraftShims.expression(col("__h")),
      GraftShims.expression(col("__v")), k).toAggregateExpression())
    rows.groupBy(col(groupCol)).agg(minK.as("__mins"))
      .select(col(groupCol), explode(col("__mins")).as("__e"))
      .select(col(groupCol), col("__e.ord").as("hv"), col("__e.id").as("v"))
  }

  /**
   * The KMV sketch STATE as a DataFrame: per group, the k smallest DISTINCT
   * 32-bit value hashes (0→1, as everywhere) as (groupCol, `hv`) rows —
   * the mergeable artifact behind [[distinctKmv]], and the input to the
   * set-operation estimators ([[kmvSetEstimates]]). Persist per
   * shard/segment/day (≤ k rows per group); union any set of shard tables
   * back through [[kmvEstimate]] — min-k of a union of min-k's is the
   * global min-k, so merge-then-estimate equals the estimate over the
   * concatenated raw data EXACTLY (same contract as [[hllRegisters]] /
   * [[quantileSample]]).
   */
  def kmvSample(df: DataFrame, groupCol: String, valueCol: String,
                k: Int): DataFrame = {
    val h = greatest(
      conv(substring(md5(col(valueCol).cast("string")), 1, 8), 16, 10)
        .cast("long"),
      lit(1L))
    minKHashes(df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), h.as("__h")), groupCol, k)
  }

  /** The bounded bottom-k of the DISTINCT `__h` values per group, as
    * (groupCol, hv) rows — [[org.apache.spark.sql.graft.TopNDistinctLong]]
    * heaps dedup internally and combine map-side, so no pre-`distinct()`
    * exchange is needed and the shuffle carries ≤ k rows per task × group
    * (r14: the former distinct→TopNByOrd form paid a full-width exchange
    * + aggregate pass per sketch side at gate scale). */
  private def minKHashes(hashes: DataFrame, groupCol: String,
                         k: Int): DataFrame = {
    require(k >= 2 && k <= (1 << 20), s"k must be in [2, 2^20], got $k")
    val minK = GraftShims.column(org.apache.spark.sql.graft.TopNDistinctLong(
      GraftShims.expression(col("__h")), k).toAggregateExpression())
    hashes.groupBy(col(groupCol)).agg(minK.as("__mins"))
      .select(col(groupCol), explode(col("__mins")).as("hv"))
  }

  /** [[distinctKmv]]'s estimator applied to a [[kmvSample]] table — or to
    * any UNION of same-k shard samples (the bottom-k is idempotently
    * re-taken first, so concatenated shard tables merge exactly). Output:
    * groupCol, `n_kept`, `est_distinct` — identical to [[distinctKmv]] run
    * on the concatenated raw data. */
  def kmvEstimate(sample: DataFrame, groupCol: String, k: Int): DataFrame =
    minKHashes(sample.select(col(groupCol), col("hv").as("__h")),
      groupCol, k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"), max(col("hv")).as("__hk"))
      .select(col(groupCol), col("n_kept"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"(${k - 1} * 4294967296L) div __hk"))
          .as("est_distinct"))

  /**
   * Set-operation estimates from two [[kmvSample]] tables built with the
   * SAME k and hash (Beyer et al. '07 §4): per group present in BOTH
   * inputs, the bottom-k X of the unioned hash sets estimates the union
   * cardinality (the usual KMV estimator), and — because every member of X
   * is ≤ the k-th smallest hash of EACH side — membership of X's hashes in
   * the two samples is exact, so
   *   jaccard_permille = (1000 · |X ∩ A ∩ B|) div |X|
   * is the standard unbiased KMV Jaccard estimate and
   *   est_intersect = (jaccard_permille · est_union) div 1000
   * the intersection estimate. Groups with < k distinct hashes in the
   * union are EXACT (X is the whole union). Everything after the md5 hash
   * is integer, so a SQL oracle rebuilds the identical numbers.
   *
   * This is the sketch algebra that lets a 100 TB curation pass answer
   * "how much does segment A's vocabulary overlap segment B's" from two
   * ≤ k-row-per-group sketch tables — no re-scan, no distinct-of-union
   * shuffle over raw values.
   *
   * Output: groupCol, `est_a`, `est_b`, `est_union`, `jaccard_permille`,
   * `est_intersect`.
   */
  def kmvSetEstimates(a: DataFrame, b: DataFrame, groupCol: String,
                      k: Int): DataFrame = {
    // materialize both sketch tables first (r14): each side feeds THREE
    // consumers (the union for X, its membership flag join, and its own
    // kmvEstimate), and when the input is a live [[kmvSample]] plan each
    // consumer otherwise re-runs the full raw scan + distinct + bottom-k
    // (measured: 6 lineitem scans for the sf0.1 gate). The tables are
    // ≤ k rows per group — exactly the bounded state sketch algebra is
    // about, so pinning them is free.
    val sa = Checkpoints.materialize(
      a.select(col(groupCol), col("hv")), None)
    val sb = Checkpoints.materialize(
      b.select(col(groupCol), col("hv")), None)
    val x = minKHashes(
      sa.union(sb).withColumnRenamed("hv", "__h"), groupCol, k)
    val flagged = x
      .join(sa.withColumn("__ina", lit(1L)), Seq(groupCol, "hv"), "left")
      .join(sb.withColumn("__inb", lit(1L)), Seq(groupCol, "hv"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__nx"), max(col("hv")).as("__hk"),
        sum(coalesce(col("__ina"), lit(0L)) * coalesce(col("__inb"), lit(0L)))
          .as("__nboth"))
    val estA = kmvEstimate(sa, groupCol, k)
      .select(col(groupCol), col("est_distinct").as("est_a"))
    val estB = kmvEstimate(sb, groupCol, k)
      .select(col(groupCol), col("est_distinct").as("est_b"))
    flagged.join(estA, groupCol).join(estB, groupCol)
      .select(col(groupCol), col("est_a"), col("est_b"),
        when(col("__nx") < k, col("__nx"))
          .otherwise(expr(s"(${k - 1} * 4294967296L) div __hk"))
          .as("est_union"),
        expr("(1000 * __nboth) div __nx").as("jaccard_permille"))
      .withColumn("est_intersect",
        expr("(jaccard_permille * est_union) div 1000"))
  }

  /**
   * Count-Min sketch counters per group (Cormode & Muthukrishnan '05):
   * `d` deterministic md5-derived hash rows × `w` columns; every input row
   * increments one cell per hash row, and a point lookup reads the MIN of
   * its d cells — an overestimate bounded by ε·N (ε = e/w) with
   * probability 1 − δ (δ = e^−d). The frequency complement of the
   * SpaceSaving top-k (which names the heavy hitters; CMS answers "how
   * often does THIS value occur" for any value, from bounded state).
   *
   * State: (groupCol, `r`, `c`, `cnt`) — at most d·w rows per group, and
   * MERGEABLE by summing `cnt` per (group, r, c) cell: shard tables
   * concatenate, so 100 TB frequency tracking is a per-shard sketch + a
   * bounded merge, never a global value shuffle. The d·w cell updates
   * combine map-side (one partial row per task × group × cell).
   *
   * Deterministic md5 row hashes (`md5(r || ':' || value)`) make the
   * sketch itself SQL-replayable — the oracle rebuilds the identical
   * counters rather than trusting the error bound.
   */
  def cmsSketch(df: DataFrame, groupCol: String, valueCol: String,
                d: Int = 4, w: Int = 256): DataFrame = {
    require(d >= 1 && d <= 16, s"d must be in [1, 16], got $d")
    require(w >= 2 && w <= (1 << 20), s"w must be in [2, 2^20], got $w")
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol),
        explode(array(cmsCells(col(valueCol), d, w): _*)).as("__cell"))
      .groupBy(col(groupCol), col("__cell.r").as("r"), col("__cell.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The d (r, c) cells a value hashes to: row r's column is the 32-bit
    * md5 prefix of "r:value" mod w — salt-by-prefix gives d independent
    * hash functions from the one md5, identically rebuildable in SQL. */
  private def cmsCells(value: Column, d: Int, w: Int): Seq[Column] =
    (0 until d).map { r =>
      struct(lit(r).as("r"),
        (conv(substring(md5(concat(lit(s"$r:"), value.cast("string"))), 1, 8),
          16, 10).cast("long") % w).as("c"))
    }

  /**
   * Point-frequency lookups against a [[cmsSketch]]: for every group in
   * the sketch × every distinct value in `items`, `est_count` = min over
   * the value's d cells (missing cells read 0, so never-seen values
   * estimate 0 unless all d cells collide with seen mass). Guarantees
   * est_count ≥ true count, always.
   *
   * `items` is a QUERY set and must be bounded (it broadcasts — the
   * d·|items| cell table rides to every sketch partition); the sketch
   * side stays distributed, so looking up a dictionary of tracked values
   * across millions of groups is one broadcast join.
   *
   * Output: groupCol, valueCol, `est_count`.
   */
  def cmsLookup(sketch: DataFrame, items: DataFrame, groupCol: String,
                valueCol: String, d: Int = 4, w: Int = 256): DataFrame = {
    require(d >= 1 && d <= 16, s"d must be in [1, 16], got $d")
    require(w >= 2 && w <= (1 << 20), s"w must be in [2, 2^20], got $w")
    val cells = items.select(col(valueCol)).filter(col(valueCol).isNotNull)
      .distinct()
      .select(col(valueCol),
        explode(array(cmsCells(col(valueCol), d, w): _*)).as("__cell"))
      .select(col(valueCol), col("__cell.r").as("r"), col("__cell.c").as("c"))
    // materialize the sketch (r14): it feeds TWO consumers (the distinct
    // group list and the cell join), and when handed a live [[cmsSketch]]
    // plan each would re-run the full raw scan + cell aggregate. The
    // sketch is ≤ d·w rows per group — bounded state by contract.
    val sk = Checkpoints.materialize(sketch, None)
    sk.select(col(groupCol)).distinct()
      .crossJoin(broadcast(cells))
      .join(sk, Seq(groupCol, "r", "c"), "left")
      .groupBy(col(groupCol), col(valueCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /**
   * EXACT k-th smallest value of a long column WITHOUT a global sort —
   * iterative histogram refinement (the distributed selection algorithm):
   * each round buckets the current [lo, hi] candidate range into
   * `buckets` equal-width cells with ONE map-side-combined count
   * aggregate, locates the cell containing the k-th rank, and recurses
   * into it; once the range is narrower than `buckets`, one bounded
   * per-value count pass finishes exactly. ≤ log_buckets(range) + 1
   * rounds — ~7 filtered scans at the full 2⁶³ range with the default
   * 1024 buckets — versus the total-order shuffle a global sort-limit
   * pays; range predicates push down to the scan, so late rounds read a
   * shrinking slice. Driver state is ≤ `buckets` count rows per round
   * (bounded, documented).
   *
   * Exactness: every step is integer counting over disjoint cells — no
   * approximation anywhere; duplicates and any k ∈ [1, n] (1-based rank
   * over the non-null values) are handled by rank arithmetic. The
   * value range must satisfy hi − lo < 2⁶³ (any real measure column —
   * prices, counts, micros timestamps — does; asserted).
   */
  def kthValue(df: DataFrame, valueCol: String, k: Long,
               buckets: Int = 1024): Long =
    kthValues(df, valueCol, Seq(k), buckets).head

  /**
   * Multi-rank [[kthValue]]: the exact values at EVERY rank in `ks`, with
   * each refinement round's counting scan SHARED across all still-wide
   * brackets — the quartile/decile report costs ~log_buckets(range) + 1
   * scans TOTAL instead of per rank (3 ranks: ~8 scans vs ~24).
   *
   * Sharing is exact, not heuristic: brackets start identical and refine
   * into cells of their parent's grid, so by induction any two brackets
   * are EQUAL or DISJOINT — deduping them means the per-round tagged
   * projection emits ≤ 1 (bracket, bucket) row per value, and one
   * map-side-combined aggregate serves every rank. The OR of bracket
   * range predicates still pushes down to the scan, so late rounds read
   * only the union of the shrinking slices. Driver state stays ≤
   * distinct-brackets × buckets count rows per round.
   *
   * Returns values aligned with `ks` (duplicate ranks allowed).
   */
  def kthValues(df: DataFrame, valueCol: String, ks: Seq[Long],
                buckets: Int = 1024): Seq[Long] = {
    require(ks.nonEmpty, "ks must be non-empty")
    ks.foreach(k => require(k >= 1, s"every k must be >= 1, got $k"))
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val vals = df.select(col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    val head = vals.agg(count(lit(1)).as("n"), min(col("__v")).as("lo"),
      max(col("__v")).as("hi")).head()
    val n = head.getLong(0)
    require(n > 0, "kthValue on an empty/all-null column")
    ks.foreach(k => require(k <= n, s"k=$k out of range, n=$n"))
    require(BigInt(head.getLong(2)) - BigInt(head.getLong(1)) <
      BigInt(Long.MaxValue),
      s"value range [${head.getLong(1)}, ${head.getLong(2)}] overflows " +
        "the refinement arithmetic")
    // per-rank bracket state: [lo, hi] plus the rank WITHIN the bracket
    val lo = Array.fill(ks.size)(head.getLong(1))
    val hi = Array.fill(ks.size)(head.getLong(2))
    val kk = ks.toArray.clone()
    while (ks.indices.exists(i => hi(i) - lo(i) >= buckets)) {
      val active = ks.indices.filter(i => hi(i) - lo(i) >= buckets)
      val distinctBr = active.map(i => (lo(i), hi(i))).distinct
      // integer div, NOT `/`: Spark's `/` on longs is double division and
      // a 53-bit mantissa mis-buckets values once the range passes 2^53
      val arms = distinctBr.zipWithIndex.map { case ((l, h), j) =>
        val w = (h - l) / buckets + 1
        when(col("__v") >= l && col("__v") <= h,
          struct(lit(j).as("bid"),
            expr(s"(__v - ${l}L) div ${w}L").as("b")))
      }
      val rangePred = distinctBr
        .map { case (l, h) => col("__v") >= l && col("__v") <= h }
        .reduce(_ || _)
      val byBracket = vals.filter(rangePred)
        .select(explode(array(arms: _*)).as("e"))
        .filter(col("e").isNotNull)
        .groupBy(col("e.bid").as("bid"), col("e.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (bid, rows) =>
          bid -> rows.map(t => t._2 -> t._3).sortBy(_._1) }
      for (i <- active) {
        val j = distinctBr.indexOf((lo(i), hi(i)))
        val w = (hi(i) - lo(i)) / buckets + 1
        var cum = 0L
        var b = -1L
        for ((bi, c) <- byBracket(j) if b < 0) {
          if (cum + c >= kk(i)) b = bi else cum += c
        }
        kk(i) -= cum
        lo(i) = lo(i) + b * w
        // BigInt for the cell bound: lo + w - 1 can exceed Long.MaxValue
        // when the range sits near the top of the long domain
        val cellHi = BigInt(lo(i)) + BigInt(w) - 1
        hi(i) = if (cellHi >= BigInt(hi(i))) hi(i) else cellHi.toLong
      }
    }
    // one shared exact finish over the union of the narrow brackets
    val finBr = ks.indices.map(i => (lo(i), hi(i))).distinct
    val finArms = finBr.zipWithIndex.map { case ((l, h), j) =>
      when(col("__v") >= l && col("__v") <= h,
        struct(lit(j).as("bid"), col("__v").as("v")))
    }
    val finPred = finBr
      .map { case (l, h) => col("__v") >= l && col("__v") <= h }
      .reduce(_ || _)
    val finByBracket = vals.filter(finPred)
      .select(explode(array(finArms: _*)).as("e"))
      .filter(col("e").isNotNull)
      .groupBy(col("e.bid").as("bid"), col("e.v").as("v"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (bid, rows) =>
        bid -> rows.map(t => t._2 -> t._3).sortBy(_._1) }
    ks.indices.map { i =>
      val j = finBr.indexOf((lo(i), hi(i)))
      var cum = 0L
      var out = lo(i)
      var found = false
      for ((v, c) <- finByBracket(j) if !found) {
        if (cum + c >= kk(i)) { out = v; found = true } else cum += c
      }
      assert(found, "kthValue refinement invariant broken")
      out
    }
  }

  /** Merge + estimate over [[hllRegisters]] tables (any union of them —
    * merging IS `max` per register, re-done here, so shard tables can be
    * concatenated as-is). Same integer-exact harmonic mean as
    * [[distinctHll]]; `b` must match the registers' build. */
  def hllEstimate(registers: DataFrame, groupCol: String,
                  b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 10, s"b must be in [4, 10], got $b")
    val m = 1L << b
    registers
      .groupBy(col(groupCol), col("register"))
      .agg(max(col("rho_max")).as("__M"))
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_hit"),
        sum(expr("shiftleft(1L, CAST(32 - __M AS INT))")).as("__sp"))
      .select(col(groupCol), col("n_hit"),
        expr(s"(${alphaPermille(b)} * ${m * m} * 4294967296L) div " +
          s"(1000 * (__sp + (${m}L - n_hit) * 4294967296L))")
          .as("est_distinct"))
  }

  /**
   * Scale-path twin of [[weightedMedian]]: the identical LOWER weighted
   * median located by WEIGHTED histogram refinement — the [[kthValues]]
   * counting-scan machinery with per-bucket weight sums instead of
   * counts — so nothing is ever sorted and no window runs. With few
   * groups the window form collapses to groups-many giant sorted
   * partitions (the q_twap parallelism lesson); this form costs
   * ~log_buckets(value range) + 1 map-side-combined scans total, all
   * groups refined in the SAME tagged scan per round, driver state ≤
   * groups × buckets weight cells.
   *
   * Output and types identical to [[weightedMedian]] by contract
   * (group, weighted_median, w_total); groups are require-capped (the
   * per-round predicate and driver state are groups-sized).
   */
  def weightedMedianRefine(df: DataFrame, groupCol: String, valueCol: String,
                           weightCol: String, buckets: Int = 1024,
                           maxGroups: Int = 1000): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val spark = df.sparkSession
    val base = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"),
        col(weightCol).cast("long").as("__w"))
    val head = base.groupBy(col("__g"))
      .agg(sum(col("__w")).as("wt"), min(col("__v")).as("lo"),
        max(col("__v")).as("hi"))
      .collect()
    require(head.length <= maxGroups,
      s"${head.length} groups > cap $maxGroups — the refinement predicate " +
        "and driver state are groups-sized; pre-aggregate or raise the cap")
    // same range guard as kthValues: a group spanning most of the long
    // domain would overflow the bracket-width/cell arithmetic and silently
    // mis-bucket — fail loudly instead
    head.foreach { r =>
      require(BigInt(r.getLong(3)) - BigInt(r.getLong(2)) < BigInt(Long.MaxValue),
        s"group ${r.get(0)}: value range [${r.getLong(2)}, ${r.getLong(3)}] " +
          "overflows the refinement arithmetic")
    }
    // rank k = ceil(W/2): the smallest v with 2·cumweight(≤v) ≥ W
    final case class Br(g: Any, var lo: Long, var hi: Long, var k: Long,
                        var done: Boolean, var out: Long)
    val brs = head.map(r => Br(r.get(0), r.getLong(2), r.getLong(3),
      (r.getLong(1) + 1) / 2, done = false, out = 0L)).toSeq
    def gEq(v: Any): Column = col("__g") <=> lit(v)
    var remaining = brs.filterNot(_.done)
    while (remaining.nonEmpty) {
      // one tagged scan: each unfinished group's bracket slice buckets
      // into `buckets` cells of ITS bracket grid; weights sum per cell
      val preds = remaining.map(b => gEq(b.g) && col("__v").between(b.lo, b.hi))
        .reduce(_ || _)
      val narrow = remaining.filter(b => b.hi - b.lo + 1 <= buckets)
      val wide = remaining.filterNot(b => b.hi - b.lo + 1 <= buckets)
      // integer div, NOT `/` (the kthValues lesson: double division
      // mis-buckets past 2^53); cell width per group = (hi−lo)/B + 1
      val cellOf: Column = wide.foldLeft(
        narrow.foldLeft(lit(-1L)) { (acc, b) =>
          when(gEq(b.g), col("__v") - lit(b.lo)).otherwise(acc)
        }) { (acc, b) =>
        val w = (b.hi - b.lo) / buckets + 1
        when(gEq(b.g), expr(s"(__v - ${b.lo}L) div ${w}L")).otherwise(acc)
      }
      val cells = base.filter(preds)
        .select(col("__g"), cellOf.cast("long").as("__c"), col("__w"))
        .groupBy(col("__g"), col("__c")).agg(sum(col("__w")).as("w"))
        .collect()
        .groupBy(_.get(0))
        .map { case (g, rows) =>
          g -> rows.toSeq.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1) }
      remaining.foreach { b =>
        val byCell = cells.getOrElse(b.g, Seq.empty[(Long, Long)])
        var cum = 0L
        var found = false
        val isNarrow = b.hi - b.lo + 1 <= buckets
        val cw = (b.hi - b.lo) / buckets + 1
        for ((c, w) <- byCell if !found) {
          if (cum + w >= b.k) {
            found = true
            if (isNarrow) { b.out = b.lo + c; b.done = true }
            else {
              // cell c covers [lo + c·cw, min(lo + (c+1)·cw − 1, hi)]
              val cellLo = b.lo + c * cw
              val cellHi = math.min(b.lo + (c + 1) * cw - 1, b.hi)
              b.k -= cum
              b.lo = cellLo
              b.hi = cellHi
            }
          } else cum += w
        }
        assert(found, "weightedMedianRefine invariant broken (rank past total)")
      }
      remaining = brs.filterNot(_.done)
    }
    import scala.jdk.CollectionConverters._
    val wtByG = head.map(r => r.get(0) -> r.getLong(1)).toMap
    val outRows = brs.map(b =>
      org.apache.spark.sql.Row(b.g, b.out, wtByG(b.g))).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(groupCol,
        df.schema(groupCol).dataType),
      org.apache.spark.sql.types.StructField("weighted_median",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("w_total",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(outRows, schema)
  }

  /**
   * Grouped exact LOWER weighted median: the smallest value v per group
   * with cumulative weight(≤v) · 2 ≥ total weight — the robust center
   * when rows carry unequal mass (token counts, sampling weights), and
   * the deterministic integer convention (no interpolation, so the
   * result is always an observed value and replays hash-exact).
   *
   * Plan shape: the corpus first collapses to per-(group, value) weight
   * sums — ONE map-side-combined shuffle bounded by distinct values, not
   * rows — then the cumulative scan is a window over that collapsed
   * frame and the answer is a tiny min-aggregate. A 100 TB input with a
   * bounded value domain (cents, token counts) pays the big shuffle
   * only on the collapsed frame.
   */
  def weightedMedian(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     weightCol: String): DataFrame = {
    val gc = groupCols.map(col)
    val byVal = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(gc :+ col(valueCol): _*)
      .agg(sum(col(weightCol)).as("__w"))
    val part = Window.partitionBy(gc: _*)
    val cumW = part.orderBy(col(valueCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byVal
      .withColumn("__cum", sum(col("__w")).over(cumW))
      .withColumn("__tot", sum(col("__w")).over(part))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(gc: _*)
      .agg(min(col(valueCol)).as("weighted_median"),
        max(col("__tot")).as("w_total"))
  }
}
