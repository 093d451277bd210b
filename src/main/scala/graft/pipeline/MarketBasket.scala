package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Pairwise association mining (the support/confidence/lift core of
 * Agrawal-Srikant frequent itemsets, restricted to 2-itemsets — the size
 * that powers "bought together" co-occurrence reports without the
 * exponential lattice).
 *
 * All metrics are integer permille so reports hash-compare across
 * engines: confidence(a→b) = n_ab·1000 div n_a, lift = n_ab·N·1000 div
 * (n_a·n_b) where N is the basket count.
 */
object MarketBasket {

  /**
   * Co-occurrence pair rules over (basket, item) rows. Duplicate
   * (basket, item) pairs collapse first, so support counts baskets, not
   * line items. Pairs are emitted once with `item_a < item_b`;
   * directional confidences cover both rule orientations.
   *
   * Scale shape: pairs expand within a basket only — a MAP-SIDE double
   * explode over the per-basket item array (one basket-keyed shuffle
   * builds the arrays), output bounded by Σ basketSize² — and
   * `maxBasketSize` drops degenerate mega-baskets (a single viral basket
   * of 10⁵ items would alone emit 5·10⁹ pairs; the standard guard in
   * every production basket miner). Dropped-basket count is observable
   * by diffing `n_baskets` against the unguarded distinct count. The
   * `minSupport` filter runs before the item-count joins, and the pair
   * stream partially aggregates before its only shuffle.
   *
   * Overflow headroom: lift's numerator is n_ab·N·1000 ≤ N²·1000 in the
   * degenerate every-basket-shares-the-pair case — under 2⁶³ for
   * N < 9·10⁷ baskets, far more in practice since n_ab is a pair's
   * support — and ANSI mode faults loudly rather than wrapping if a
   * corpus ever crosses it.
   */
  /** The shared basket prep as one ARRAY row per basket: nulls out,
    * items set-deduped so support counts baskets, mega-baskets dropped,
    * result materialized ONCE for the many downstream consumers.
    *
    * r14 shape: ONE map-side-combined `collect_set` aggregate replaces
    * the previous distinct + per-basket size count + filter join (three
    * shuffles of the exploded rows → one), and pair/triple candidate
    * generation becomes a MAP-SIDE double explode over the sorted array —
    * the [[graft.pipeline.Dedup]] capBuckets idiom — instead of a
    * basket-keyed self-join (measured q_assoc_pairs warm 1.54 → see
    * OPTIMIZATION_r14.md). `sort_array` pins intra-array order so every
    * downstream emission is deterministic. Like capBuckets, the
    * aggregate materializes a basket's distinct set before the size
    * filter drops it — transient memory linear in the single largest
    * basket, the same data-model bound every collect_list bucket op here
    * accepts; the `maxBasketSize` cap still removes the QUADRATIC pair
    * volume before any pair exists. */
  private def basketArrays(df: DataFrame, basketCol: String, itemCol: String,
                           maxBasketSize: Int,
                           checkpointDir: Option[String]): DataFrame =
    Checkpoints.materialize(
      df.select(col(basketCol).as("b"), col(itemCol).as("i"))
        .filter(col("i").isNotNull && col("b").isNotNull)
        .groupBy(col("b"))
        .agg(sort_array(collect_set(col("i"))).as("items"))
        .filter(size(col("items")) <= maxBasketSize),
      checkpointDir)

  def pairRules(df: DataFrame, basketCol: String, itemCol: String,
                minSupport: Long = 2, maxBasketSize: Int = 1000,
                checkpointDir: Option[String] = None): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val baskets = basketArrays(df, basketCol, itemCol, maxBasketSize,
      checkpointDir)
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    // map-side pair emission: two chained generators stream sz² candidate
    // rows per basket straight into the partially-aggregated pair count —
    // no basket-keyed shuffle, no self-join
    val pairs = baskets
      .select(col("items"), explode(col("items")).as("item_a"))
      .select(col("item_a"), explode(col("items")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val cnt = baskets.select(explode(col("items")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("n"))
    val cntA = cnt.select(col("i").as("item_a"), col("n").as("n_a"))
    val cntB = cnt.select(col("i").as("item_b"), col("n").as("n_b"))
    pairs.join(cntA, "item_a").join(cntB, "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        expr("n_ab * 1000 div n_a").as("conf_ab_permille"),
        expr("n_ab * 1000 div n_b").as("conf_ba_permille"),
        expr("n_ab * n_baskets * 1000 div (n_a * n_b)").as("lift_permille"))
  }

  /**
   * Top-k 3-itemset association rules — [[pairRules]] one lattice level
   * up, with the classic Apriori candidate prune keeping the shape
   * tractable: a triple {a,b,c} with support ≥ minSupport necessarily has
   * its {a,b} sub-pair at support ≥ minSupport, so candidate generation
   * extends only FREQUENT-pair occurrences by a third same-basket item
   * (candidate volume ≤ frequent-pair occurrences × basket size — never
   * the unguarded Σ size³ triple stream; `maxBasketSize` bounds the
   * extension fan-out). Output is the `topK` triples by
   * (support DESC, item_a, item_b, item_c ASC) — a total order, so the
   * cut is deterministic and SQL-replayable — with each rule
   * orientation's integer-permille confidence (the three sub-pair
   * supports all ≥ minSupport by the same monotonicity, so the metric
   * joins never lose a row).
   *
   * One Σ size²-bounded MAP-SIDE pair explode (the candidate stream,
   * r14 — the basket arrays ride along so the extension explodes item_c
   * from the same row, no basket-keyed join back), one frequent-pair
   * semi-restriction, one triple aggregate, then a
   * TakeOrderedAndProject at `topK` — the ≤topK survivors broadcast into
   * the three pair-count joins.
   *
   * The pair stream is derived twice (frequent-pair aggregate +
   * candidate generation) from the CHECKPOINTED basket arrays rather
   * than materialized: measured 1.09× warm at sf0.1 (ROUND_NOTES round 7,
   * item 18) — inside noise — while materializing
   * Σ size² rows is a real storage cost at 100 TB. Recompute wins.
   */
  def tripleRules(df: DataFrame, basketCol: String, itemCol: String,
                  minSupport: Long = 2, maxBasketSize: Int = 1000,
                  topK: Int = 1000,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 3, s"maxBasketSize must be >= 3, got $maxBasketSize")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val baskets = basketArrays(df, basketCol, itemCol, maxBasketSize,
      checkpointDir)
    // map-side pair emission from the sorted basket arrays (see
    // [[basketArrays]]); the array rides along on the candidate path so
    // the Apriori extension explodes item_c from the SAME row — no
    // basket-keyed join back (column pruning drops the array where a
    // consumer ignores it, e.g. the frequent-pair aggregate)
    val pairOcc = baskets
      .select(col("items"), explode(col("items")).as("item_a"))
      .select(col("items"), col("item_a"), explode(col("items")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
    // frequent pairs, materialized once: they gate candidate generation
    // AND supply all three sub-pair supports for the final metrics
    val freqPairs = Checkpoints.materialize(
      pairOcc.groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= minSupport),
      checkpointDir)
    val triples = pairOcc
      .join(freqPairs.select(col("item_a"), col("item_b")),
        Seq("item_a", "item_b"), "left_semi")
      .select(col("item_a"), col("item_b"), explode(col("items")).as("item_c"))
      .filter(col("item_b") < col("item_c"))
      .groupBy(col("item_a"), col("item_b"), col("item_c"))
      .agg(count(lit(1)).as("n_abc"))
      .filter(col("n_abc") >= minSupport)
      .orderBy(col("n_abc").desc, col("item_a").asc, col("item_b").asc,
        col("item_c").asc)
      .limit(topK)
    def sub(lo: String, hi: String, as: String): DataFrame =
      freqPairs.select(col("item_a").as(lo), col("item_b").as(hi),
        col("n_pair").as(as))
    triples
      .join(sub("item_a", "item_b", "n_ab"), Seq("item_a", "item_b"))
      .join(sub("item_a", "item_c", "n_ac"), Seq("item_a", "item_c"))
      .join(sub("item_b", "item_c", "n_bc"), Seq("item_b", "item_c"))
      .select(col("item_a"), col("item_b"), col("item_c"), col("n_abc"),
        col("n_ab"), col("n_ac"), col("n_bc"),
        expr("n_abc * 1000 div n_ab").as("conf_ab_c_permille"),
        expr("n_abc * 1000 div n_ac").as("conf_ac_b_permille"),
        expr("n_abc * 1000 div n_bc").as("conf_bc_a_permille"))
  }
}
