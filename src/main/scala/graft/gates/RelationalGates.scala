package graft
package gates

import graft.pipeline.{Curation, Evaluation, MarketBasket, Sampling, Sketches, Snapshots}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scans, joins, set operations, windows and rollups, plus the sampling,
  * evaluation, snapshot and sketch operators of the data pipeline. */
object RelationalGates {

  /** Fixed pivot-column domain of orders.o_orderpriority (TPC-H enum). */
  private val OrderPriorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Per-(group, value) collapse + cumulative window + lower-median pick
    * — shared verbatim by q_weighted_median and its sort-free refinement
    * twin (output-identical by contract). */
  private val WeightedMedianOracleSql: String =
    "WITH b AS (SELECT l_returnflag, " +
      "CAST(round(l_extendedprice * 100) AS BIGINT) AS v, " +
      "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w " +
      "FROM lineitem GROUP BY 1, 2), " +
      "c AS (SELECT l_returnflag, v, " +
      "sum(w) OVER (PARTITION BY l_returnflag ORDER BY v " +
      "ROWS UNBOUNDED PRECEDING) AS cum, " +
      "sum(w) OVER (PARTITION BY l_returnflag) AS tot FROM b) " +
      "SELECT l_returnflag, CAST(min(v) AS BIGINT) AS weighted_median, " +
      "CAST(max(tot) AS BIGINT) AS w_total " +
      "FROM c WHERE cum * 2 >= tot GROUP BY 1"

  /** The q_split manifest and its cumulative thresholds (shared between
    * the Spark query and the generated oracle CASE — the cumulative sums
    * are computed ONCE so both sides carry identical double rounding). */
  private val SplitWeights: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  private val SplitCumHex: Seq[(String, String)] = {
    val cum = SplitWeights.init.scanLeft(0.0)(_ + _._2).tail
    SplitWeights.init.map(_._1).zip(cum.map(Sampling.fractionThresholdHex))
  }

  /** The q_sample_mix mixture manifest: per-source keep fractions (shared
    * between the Spark query and the generated oracle CASE). */
  private val MixFractions: Seq[(String, Double)] = Seq(
    "src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125, "src3" -> 0.75)

  /** The q_sample_budget manifest: per-source token budgets (shared between
    * the Spark query and the generated oracle CASE). Values sit below each
    * source's sf0.01 token total so the budget actually bites. */
  private val BudgetTokens: Seq[(String, Long)] = Seq(
    "src0" -> 2000L, "src1" -> 1000L, "src2" -> 500L, "src3" -> 3000L)

  /** The q_sample_epochs manifest: per-source epoch multipliers, with the
    * fractional-part thresholds hex-rendered ONCE so both engines compare
    * against identical literals (the SplitCumHex pattern). */
  private val EpochFactors: Seq[(String, Double)] = Seq(
    "src0" -> 2.0, "src1" -> 0.5, "src2" -> 1.25, "src3" -> 3.5)

  private val EpochHex: Seq[(String, Long, String)] = EpochFactors.map { case (g, ep) =>
    (g, math.floor(ep).toLong, Sampling.fractionThresholdHex(ep - math.floor(ep)))
  }

  /** The CDC fixture's changeset: docs with id % 3 or % 7 = 0, n_chars
    * bumped by 1e6, tombstoned (op = "delete") when id % 7 = 0. */
  private def cdcChanges(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(3)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("op",
        when(pmod(col("doc_id"), lit(7)) === 0, "delete").otherwise("upsert"))
      .withColumn("n_chars", col("n_chars") + 1000000L)

  /** The eval fixture's label: 1 iff the doc's [a-z]+ tokens contain "slow". */
  private def slowLabel: Column = {
    val toks = array_remove(
      split(lower(coalesce(col("text"), lit(""))), "[^a-z]+"), "")
    when(array_contains(toks, "slow"), 1L).otherwise(0L).as("label")
  }

  /** SQL replay of [[slowLabel]] as `y`, with the score `s` = n_chars,
    * closing a `t AS (SELECT ...` CTE over the scored documents. */
  private val SlowLabelSql: String =
    "CASE WHEN list_contains(list_filter(" +
      "string_split_regex(lower(coalesce(text, '')), '[^a-z]+'), " +
      "x -> x <> ''), 'slow') THEN 1 ELSE 0 END AS y, " +
      "CAST(n_chars AS BIGINT) AS s FROM documents WHERE n_chars IS NOT NULL), "

  /** The binary-eval report columns after `n`, computed from
    * `a(n_pos, n_neg, u2, tp, fp)`: confusion counts, P/R/F1 and the
    * exact AUC (2U over 2·n_pos·n_neg), all integer permille. */
  private val EvalCountsSql: String =
    "CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg, " +
      "CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, " +
      "CAST(n_pos - tp AS BIGINT) AS fn, CAST(n_neg - fp AS BIGINT) AS tn, " +
      "CAST((tp * 1000) // greatest(tp + fp, 1) AS BIGINT) AS precision_permille, " +
      "CAST((tp * 1000) // greatest(n_pos, 1) AS BIGINT) AS recall_permille, " +
      "CAST((tp * 2000) // greatest(2 * tp + fp + (n_pos - tp), 1) AS BIGINT) AS f1_permille, " +
      "CAST((u2 * 1000) // greatest(2 * n_pos * n_neg, 1) AS BIGINT) AS auc_permille " +
      "FROM a"

  val all: Seq[Gate] = Seq(
    // S1/S6: projection + filter pushed to the parquet scan
    Gate("q_scan_project", (s, d) =>
      Tables.table(s, d, "lineitem")
        .filter(col("l_quantity") < 25)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"),
          (col("l_quantity").cast("long")).as("qty")),
      "SELECT l_orderkey, l_linenumber, l_returnflag, CAST(l_quantity AS BIGINT) AS qty " +
        "FROM lineitem WHERE l_quantity < 25"),

    // S7: dedup-on-ingest (distinct projection)
    Gate("q_dedup_ingest", (s, d) =>
      Tables.table(s, d, "part").select(col("p_brand"), col("p_type")).distinct(),
      "SELECT DISTINCT p_brand, p_type FROM part"),

    // JSONL ingest with corrupt-line quarantine: the gate round-trips the
    // documents table through a REAL newline-JSON file with every 13th
    // line truncated (the crawl-dump mid-write-kill shape), reads it back
    // PERMISSIVE with an explicit _corrupt column, and reports per-source
    // good counts/sums + the quarantine bucket. Classification is by
    // _corrupt IS NOT NULL (never data-field nullness — PERMISSIVE may
    // partially fill fields parsed before the malformation point); the
    // oracle replays which doc_ids were corrupted, touching no file
    Gate("q_ingest_jsonl", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val j = to_json(struct(col("doc_id"), col("source"), col("n_chars")))
      val lines = docs.select(j.as("__j"), col("doc_id"))
        .select(when(col("doc_id") % 13 === 0,
            expr("substring(__j, 1, length(__j) - 1)"))
          .otherwise(col("__j")).as("value"))
      val path = s"/tmp/graft_jsonl_${Integer.toHexString(d.hashCode)}"
      lines.coalesce(4).write.mode("overwrite").text(path)
      val back = graft.sources.Jsonl.readQuarantined(s, path,
        "doc_id LONG, source STRING, n_chars LONG")
      back.groupBy(when(col("_corrupt").isNotNull, "__corrupt")
          .otherwise(col("source")).as("src"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("_corrupt").isNull, col("n_chars"))), lit(0L))
            .as("sum_chars"))
    },
      // replays WHICH lines the gate corrupted (doc_id % 13) — the file
      // round-trip is the Spark-side reality, the classification is the
      // engine-independent contract
      "SELECT CASE WHEN doc_id % 13 = 0 THEN '__corrupt' ELSE source END AS src, " +
        "count(*) AS n, " +
        "CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY 1"),

    // F1: key-prefix filter
    Gate("q_prefix_filter", (s, d) =>
      Tables.table(s, d, "customer")
        .filter(col("c_name").startsWith("Customer#000001"))
        .select(col("c_custkey"), col("c_name")),
      "SELECT c_custkey, c_name FROM customer WHERE c_name LIKE 'Customer#000001%'"),

    // A7: distinct-group counting
    Gate("q_count_distinct", (s, d) =>
      Tables.table(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders")),
      "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders " +
        "FROM orders GROUP BY o_orderstatus"),

    // Partial+final hash aggregate (TPC-H Q1 shape; exact cents)
    Gate("q_agg_q1", (s, d) =>
      Tables.table(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long") *
            round((lit(1.0) - col("l_discount")) * 100).cast("long")).as("revenue_e4"),
          count(lit(1)).as("n_rows")),
      "SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_e4, " +
        "count(*) AS n_rows FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-01' GROUP BY l_returnflag, l_linestatus"),

    Gate("q_join_bcast", (s, d) => {
      val orders = Tables.table(s, d, "orders")
      val cust = Tables.table(s, d, "customer")
      val nation = Tables.table(s, d, "nation")
      val region = Tables.table(s, d, "region")
      orders
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
    },
      "SELECT r_name, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"),

    Gate("q_join_semi", (s, d) => {
      val cust = Tables.table(s, d, "customer")
      val orders = Tables.table(s, d, "orders")
      cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
      "SELECT c_custkey, c_name FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),

    Gate("q_join_anti", (s, d) => {
      val cust = Tables.table(s, d, "customer")
      val bigOrders = Tables.table(s, d, "orders").filter(col("o_totalprice") > 300000.0)
      cust.join(bigOrders, cust("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
      "SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_totalprice > 300000.0)"),

    // full outer join: customers without matching big orders AND big orders
    // whose customers fall outside the filtered customer segment both survive
    Gate("q_join_full", (s, d) => {
      val seg = Tables.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      val big = Tables.table(s, d, "orders")
        .filter(col("o_totalprice") > 400000.0)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_big"))
      seg.join(big, seg("c_custkey") === big("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_custkey"), col("n_big"))
    },
      "SELECT c_custkey, c_name, o_custkey, n_big FROM " +
        "(SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') seg " +
        "FULL OUTER JOIN " +
        "(SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_big FROM orders " +
        "WHERE o_totalprice > 400000.0 GROUP BY o_custkey) big " +
        "ON seg.c_custkey = big.o_custkey"),

    // big-big sort-merge join (merge hint pins the strategy)
    Gate("q_join_sortmerge", (s, d) => {
      val li = Tables.table(s, d, "lineitem")
      val o = Tables.table(s, d, "orders").hint("merge")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"), count(lit(1)).as("n"))
    },
      "SELECT o_orderpriority, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority"),

    // equi+range join: lineitems shipped within 90 days of their order date
    Gate("q_join_range", (s, d) => {
      val li = Tables.table(s, d, "lineitem")
      val o = Tables.table(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") >= o("o_orderdate") &&
          li("l_shipdate") <= date_add(o("o_orderdate"), 90))
        .select(col("l_orderkey"), col("l_linenumber"))
    },
      "SELECT l_orderkey, l_linenumber FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 90 DAY"),

    // bucketized interval-lookup join (balance → tier): hash join on the
    // bucket key instead of Spark's O(n·m) BroadcastNestedLoopJoin for
    // the same predicate; the oracle runs the raw range join
    Gate("q_join_interval", (s, d) => {
      val tiers = s.range(-2, 20).select(col("id").as("tier"),
        (col("id") * 500.0).as("lo"), ((col("id") + 1) * 500.0).as("hi"))
      graft.api.IntervalJoin.lookup(
          Tables.table(s, d, "customer").select(col("c_custkey"), col("c_acctbal")),
          "c_acctbal", tiers, bucketWidth = 500.0)
        .select(col("c_custkey"), col("tier"))
    },
      // the raw range join — bucketing is a candidate superset re-checked
      // by the exact predicate, so results must be identical; i*500.0 is
      // the same IEEE double in both engines
      "WITH tiers AS (SELECT i AS tier, i * 500.0 AS lo, (i + 1) * 500.0 AS hi " +
        "FROM range(-2, 20) t(i)) " +
        "SELECT c.c_custkey, t.tier FROM customer c JOIN tiers t " +
        "ON c.c_acctbal >= t.lo AND c.c_acctbal < t.hi"),

    // PassJoin edit-distance self-join (VLDB'12 pigeonhole segment
    // blocking + thresholded levenshtein verify) over distinct part
    // names; the oracle is the brute-force quadratic on the same table
    Gate("q_join_fuzzy", (s, d) => {
      val names = Tables.table(s, d, "part")
        .groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
        .select(col("id"), col("p_name").as("text"))
      graft.api.FuzzyJoin.editDistanceSelfJoin(names, tau = 2)
    },
      // brute-force quadratic on the tiny distinct-name table — PassJoin's
      // blocking is exact, so the candidate-verified result must equal it
      "WITH names AS (SELECT min(p_partkey) AS id, p_name AS t FROM part GROUP BY p_name) " +
        "SELECT a.id AS id_a, b.id AS id_b, " +
        "CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist " +
        "FROM names a JOIN names b ON a.id < b.id " +
        "WHERE levenshtein(a.t, b.t) <= 2"),

    // INCREMENTAL fuzzy matching: odd-id names probe a persisted
    // even-id-name segment index — the edit-distance analog of
    // q_dedup_incremental; the oracle is the brute-force cross product
    Gate("q_join_fuzzy_incr", (s, d) => {
      val names = Tables.table(s, d, "part")
        .groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
        .select(col("id"), col("p_name").as("text"))
      val path = s"/tmp/graft_edit_index_${Integer.toHexString(d.hashCode)}"
      graft.api.FuzzyJoin.writeEditIndex(
        names.filter(pmod(col("id"), lit(2)) === 0), path, tau = 2)
      graft.api.FuzzyJoin.editDistanceAgainstIndex(
        s, path, names.filter(pmod(col("id"), lit(2)) === 1), tau = 2)
    },
      "WITH names AS (SELECT min(p_partkey) AS id, p_name AS t FROM part GROUP BY p_name) " +
        "SELECT a.id AS id_l, b.id AS id_r, " +
        "CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist " +
        "FROM names a JOIN names b ON a.id % 2 = 0 AND b.id % 2 = 1 " +
        "AND levenshtein(a.t, b.t) <= 2"),

    // skew-resilient two-stage salted aggregation
    Gate("q_salted_count", (s, d) =>
      graft.pipeline.Skew.saltedCount(
        Tables.table(s, d, "events"), "event_type", saltFrom = "event_id"),
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"),

    Gate("q_union_dedup", (s, d) => {
      val part = Tables.table(s, d, "part")
      part.filter(col("p_size") < 10).select(col("p_partkey"), col("p_name"))
        .union(part.filter(col("p_retailprice") < 1200.0)
          .select(col("p_partkey"), col("p_name")))
        .distinct()
    },
      "SELECT DISTINCT p_partkey, p_name FROM (" +
        "SELECT p_partkey, p_name FROM part WHERE p_size < 10 " +
        "UNION ALL SELECT p_partkey, p_name FROM part WHERE p_retailprice < 1200.0)"),

    // INTERSECT (distinct semantics): customers active in both price bands
    Gate("q_intersect", (s, d) => {
      val o = Tables.table(s, d, "orders")
      o.filter(col("o_totalprice") > 200000.0).select(col("o_custkey"))
        .intersect(o.filter(col("o_totalprice") < 50000.0).select(col("o_custkey")))
    },
      "SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0 " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice < 50000.0"),

    // EXCEPT (distinct semantics): ordering customers with no big order
    Gate("q_except", (s, d) => {
      val o = Tables.table(s, d, "orders")
      o.select(col("o_custkey"))
        .except(o.filter(col("o_totalprice") > 300000.0).select(col("o_custkey")))
    },
      "SELECT o_custkey FROM orders " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0"),

    // window-function family over one partition spec: offsets (lag/lead),
    // ranks (rank/dense_rank), buckets (ntile) — money as integer cents
    Gate("q_window_funcs", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      Tables.table(s, d, "customer")
        .withColumn("bal_cents", round(col("c_acctbal") * 100).cast("long"))
        .select(col("c_custkey"), col("c_nationkey"), col("bal_cents"),
          lag(col("c_custkey"), 1).over(w).as("prev_cust"),
          lead(col("c_custkey"), 1).over(w).as("next_cust"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          ntile(4).over(w).cast("long").as("quartile"))
    },
      "SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents, " +
        "lag(c_custkey, 1) OVER w AS prev_cust, " +
        "lead(c_custkey, 1) OVER w AS next_cust, " +
        "CAST(rank() OVER w AS BIGINT) AS rnk, " +
        "CAST(dense_rank() OVER w AS BIGINT) AS drnk, " +
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile " +
        "FROM customer " +
        "WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)"),

    Gate("q_sort_limit", (s, d) =>
      Tables.table(s, d, "part")
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .limit(50)
        .select(col("p_partkey"), col("p_name"),
          round(col("p_retailprice") * 100).cast("long").as("price_cents")),
      "SELECT p_partkey, p_name, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents " +
        "FROM part ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 50"),

    Gate("q_window_running", (s, d) =>
      Tables.table(s, d, "orders")
        .withColumn("running_cents",
          sum(round(col("o_totalprice") * 100).cast("long")).over(
            Window.partitionBy(col("o_custkey"))
              .orderBy(col("o_orderkey").asc)
              .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("o_custkey"), col("o_orderkey"), col("running_cents")),
      "SELECT o_custkey, o_orderkey, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderkey ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents " +
        "FROM orders"),

    Gate("q_cube", (s, d) => {
      val cust = Tables.table(s, d, "customer")
      val nation = Tables.table(s, d, "nation")
      cust.join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"))
    },
      "SELECT n_name, c_mktsegment, count(*) AS n_cust FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY CUBE (n_name, c_mktsegment)"),

    Gate("q_rollup", (s, d) => {
      val cust = Tables.table(s, d, "customer")
      val nation = Tables.table(s, d, "nation")
      val region = Tables.table(s, d, "region")
      cust
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
    },
      "SELECT r_name, n_name, count(*) AS n_cust FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY ROLLUP (r_name, n_name)"),

    // explicit grouping-set lattice (rollup/cube generalization)
    Gate("q_grouping_sets", (s, d) => {
      val cust = Tables.table(s, d, "customer")
      val nation = Tables.table(s, d, "nation")
      cust.join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("n_name"), col("c_mktsegment")), Seq(col("n_name")), Seq()),
          col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"))
    },
      "SELECT n_name, c_mktsegment, count(*) AS n_cust FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())"),

    Gate("q_pivot", (s, d) =>
      Tables.table(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", OrderPriorities)
        .agg(count(lit(1)))
        .select(col("o_orderstatus") +:
          OrderPriorities.map(p => coalesce(col(s"`$p`"), lit(0L)).as(p)): _*),
      "SELECT o_orderstatus, " +
        OrderPriorities.map(p =>
          s"""CAST(sum(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS "$p"""")
          .mkString(", ") +
        " FROM orders GROUP BY o_orderstatus"),

    // exact grouped percentiles (interpolated); quantities are small
    // integers and the 0.25-step ranks are dyadic, so the interpolation is
    // FP-exact and engine-independent
    Gate("q_percentile", (s, d) =>
      Tables.table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75")),
      "SELECT l_returnflag, quantile_cont(l_quantity, 0.25) AS p25, " +
        "quantile_cont(l_quantity, 0.5) AS p50, quantile_cont(l_quantity, 0.75) AS p75 " +
        "FROM lineitem GROUP BY l_returnflag"),

    Gate("q_sample_group", (s, d) =>
      Sampling.perGroupDeterministic(Tables.table(s, d, "orders"),
          Seq("o_orderpriority"), "o_orderkey", 200)
        .select(col("o_orderkey"), col("o_orderpriority")),
      "SELECT o_orderkey, o_orderpriority FROM (" +
        "SELECT o_orderkey, o_orderpriority, row_number() OVER (" +
        "PARTITION BY o_orderpriority " +
        "ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn FROM orders) " +
        "WHERE rn <= 200"),

    Gate("q_sample_frac", (s, d) =>
      Sampling.deterministicFraction(Tables.table(s, d, "orders"),
          "o_orderkey", 0.1)
        .select(col("o_orderkey")),
      s"SELECT o_orderkey FROM orders " +
        s"WHERE md5(CAST(o_orderkey AS VARCHAR)) < '${Sampling.fractionThresholdHex(0.1)}'"),

    // deterministic leakage-free train/val/test split, scan-local
    Gate("q_split", (s, d) =>
      Sampling.deterministicSplit(Tables.table(s, d, "documents"), "doc_id",
          SplitWeights)
        .select(col("doc_id"), col("split")),
      // split bands re-derived from the same cumulative hex thresholds
      "SELECT doc_id, CASE " +
        SplitCumHex.map { case (n, h) =>
          s"WHEN md5(CAST(doc_id AS VARCHAR)) < '$h' THEN '$n' "
        }.mkString +
        s"ELSE '${SplitWeights.last._1}' END AS split FROM documents"),

    // deterministic 5-fold CV assignment: 32-bit md5 prefix mod k, a pure
    // function of the id (stable under corpus growth — leakage-free CV)
    Gate("q_folds", (s, d) =>
      Sampling.deterministicFolds(Tables.table(s, d, "documents"), "doc_id", k = 5)
        .select(col("doc_id"), col("fold")),
      "SELECT doc_id, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
        "AS BIGINT) % 5 AS fold FROM documents"),

    // composed curation chain (normalize → exact-dedup keep → quality
    // floor → split; near-dup drop is gate-covered by q_dedup_clusters and
    // exercised in CurationE2ESpec): the oracle re-derives the WHOLE chain
    // in one SQL — cross-operator composition checked cross-engine, not
    // just each stage alone
    Gate("q_curate", (s, d) => {
      val curated = Curation.curate(Tables.table(s, d, "documents"),
        Curation.Config(dropNearDups = false, splits = SplitWeights))
      curated.select(col("doc_id"),
        round(col("quality_score") * 1000).cast("long").as("quality_milli"),
        col("split"))
    },
      // the full stage-1/2/4/5 curation chain in one SQL: canonical text →
      // min-id-per-canon keep set → quality formula (exact-double filter,
      // milli-rounded only for the hash) → split CASE from the shared
      // cumulative thresholds
      "WITH c AS (SELECT doc_id, text, " +
        "trim(regexp_replace(lower(nfc_normalize(text)), '[ \\t\\n\\r]+', ' ', 'g')) AS canon " +
        "FROM documents), " +
        "keep AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY canon), " +
        "f AS (SELECT c.doc_id, c.text FROM c JOIN keep USING (doc_id)), " +
        "sig AS (SELECT doc_id, length(text) AS n_chars, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_words, " +
        "len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s.,;:!?''\"()-]')) AS n_symbol, " +
        "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for|on|are|with|as|at)\\b')) AS n_stop " +
        "FROM f), " +
        "q AS (SELECT doc_id, greatest(0.0, least(1.0, " +
        "0.4 * least(CAST(n_words AS DOUBLE) / 50.0, 1.0) " +
        "+ 0.3 * least((CAST(n_stop AS DOUBLE) / (CAST(n_words AS DOUBLE) + 1.0)) * 5.0, 1.0) " +
        "+ 0.3 * greatest(0.0, 1.0 - (CAST(n_symbol AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 1.0)) * 10.0)" +
        ")) AS score FROM sig) " +
        "SELECT doc_id, CAST(round(score * 1000) AS BIGINT) AS quality_milli, CASE " +
        SplitCumHex.map { case (n, h) =>
          s"WHEN md5(CAST(doc_id AS VARCHAR)) < '$h' THEN '$n' "
        }.mkString +
        s"ELSE '${SplitWeights.last._1}' END AS split " +
        "FROM q WHERE score >= 0.3"),

    // deterministic data mixing: per-source keep fractions, scan-local
    Gate("q_sample_mix", (s, d) =>
      Sampling.deterministicMix(Tables.table(s, d, "documents"),
          "source", "doc_id", MixFractions.toMap)
        .select(col("doc_id"), col("source")),
      // per-source threshold CASE generated from the same mixture manifest;
      // unlisted sources get a NULL threshold, so the comparison drops them
      "SELECT doc_id, source FROM documents " +
        "WHERE md5(CAST(doc_id AS VARCHAR)) < CASE source " +
        MixFractions.map { case (g, p) =>
          s"WHEN '$g' THEN '${Sampling.fractionThresholdHex(p)}' "
        }.mkString +
        "END"),

    // token-budget sampling: keep docs per source in md5(id) order until
    // the source's token budget runs out (exclusive-cumsum contract)
    Gate("q_sample_budget", (s, d) =>
      Sampling.sampleByTokenBudget(Tables.table(s, d, "documents"),
        BudgetTokens.toMap),
      // identical exclusive-cumsum arithmetic over the identical md5 order
      "WITH t AS (SELECT doc_id, source, " +
        "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens, " +
        "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, " +
        "COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) " +
        "SELECT doc_id, source, n_tokens FROM c WHERE cum < CASE source " +
        BudgetTokens.map { case (g, b) => s"WHEN '$g' THEN $b " }.mkString +
        "END"),

    // epoch-based upsampling: per-source multipliers n + f emit n copies
    // plus a deterministic md5-threshold extra epoch for fraction f
    Gate("q_sample_epochs", (s, d) =>
      Sampling.mixWithEpochs(Tables.table(s, d, "documents"),
        EpochFactors.toMap),
      // same whole + fractional-threshold epoch count, expanded by range()
      "WITH n AS (SELECT doc_id, source, " +
        "(CASE source " +
        EpochHex.map { case (g, w, _) => s"WHEN '$g' THEN $w " }.mkString +
        "END) + (CASE WHEN md5(CAST(doc_id AS VARCHAR)) < CASE source " +
        EpochHex.map { case (g, _, h) => s"WHEN '$g' THEN '$h' " }.mkString +
        "END THEN 1 ELSE 0 END) AS nn FROM documents) " +
        "SELECT doc_id, source, CAST(e AS BIGINT) AS epoch " +
        "FROM n, unnest(range(nn)) AS u(e) WHERE nn > 0"),

    // proportional stratified sampling: per-source quota floor(frac*n+0.5)
    // with a minPerGroup floor, chosen in (md5(id), id) order
    Gate("q_sample_strat", (s, d) =>
      Sampling.proportionalStratified(Tables.table(s, d, "documents"),
          Seq("source"), "doc_id", 0.15, minPerGroup = 2)
        .select(col("doc_id"), col("source")),
      // identical quota arithmetic: floor(frac*n + 0.5) in DOUBLE (the frac
      // literal must be cast — DuckDB's bare 0.15 is DECIMAL) over the same
      // (md5(id), id) rank; greatest() applies the minPerGroup floor
      "SELECT doc_id, source FROM (" +
        "SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n FROM documents) " +
        "WHERE rn <= greatest(CAST(2 AS BIGINT), " +
        "CAST(floor(CAST(0.15 AS DOUBLE) * n + 0.5) AS BIGINT))"),

    // deterministic WEIGHTED sampling (integer A-Res): 5 docs per source
    // by ascending priority h div w — h = 60-bit md5(id) prefix, w =
    // n_chars div 100 + 1 (1..6 at every scale, probed) — so longer docs
    // win slots ∝ length while the draw replays exactly (both operands
    // non-negative: Spark div == DuckDB //)
    Gate("q_sample_weighted", (s, d) =>
      Sampling.weightedSample(
          Tables.table(s, d, "documents")
            .withColumn("w", expr("n_chars div 100 + 1")),
          Seq("source"), "doc_id", "w", 5)
        .select(col("source"), col("doc_id"), col("w")),
      // same 60-bit md5 prefix (the randomWalks hash idiom), same weight
      // arithmetic, same (h // w, h, id) total order — // and div agree on
      // the non-negative operands. The n_chars IS NOT NULL clause mirrors
      // the Spark side's weight-hygiene filter (weightedSample drops
      // null-weight rows): current fixtures have no null n_chars, but
      // without the clause a nullable fixture would let null-w rows fill
      // slots on the oracle side only
      "SELECT source, doc_id, w FROM (" +
        "SELECT source, doc_id, w, " +
        "row_number() OVER (PARTITION BY source " +
        "ORDER BY h // w ASC, h ASC, doc_id ASC) AS rn FROM (" +
        "SELECT source, doc_id, n_chars // 100 + 1 AS w, " +
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h " +
        "FROM documents WHERE n_chars IS NOT NULL)) WHERE rn <= 5"),

    // deterministic global training order: ordinal of (md5(id), id) in
    // the corpus total order, computed via order-preserving hash buckets
    // + broadcast offsets (never a single-partition window); the oracle
    // is the direct global row_number
    Gate("q_train_order", (s, d) =>
      Sampling.globalTrainingOrder(Tables.table(s, d, "documents"))
        .select(col("doc_id"), col("ordinal")),
      "SELECT doc_id, row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 " +
        "AS ordinal FROM documents"),

    // temperature (α=1/2) source rebalancing over the deterministically
    // skewed mixture — integer isqrt weights, floor quotas, (md5(id), id)
    // rank: the oracle replays mix → count → isqrt → quota → rank with the
    // same integer arithmetic end to end
    Gate("q_sample_temperature", (s, d) =>
      Sampling.temperatureResample(
          Sampling.deterministicMix(Tables.table(s, d, "documents"),
            "source", "doc_id", MixFractions.toMap),
          totalTarget = 24L)
        .select(col("doc_id"), col("source")),
      // mix replay + integer temperature quotas: count per surviving source,
      // isqrt weight, floor(T*w/Σw) quota, (md5(id), id) rank — all integer
      "WITH mixed AS (SELECT doc_id, source FROM documents " +
        "WHERE md5(CAST(doc_id AS VARCHAR)) < CASE source " +
        MixFractions.map { case (g, p) =>
          s"WHEN '$g' THEN '${Sampling.fractionThresholdHex(p)}' "
        }.mkString +
        "END), " +
        "c AS (SELECT source, count(*) AS n FROM mixed GROUP BY source), " +
        "w AS (SELECT source, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c), " +
        "q AS (SELECT source, CAST((24 * w) // (SELECT sum(w) FROM w) AS BIGINT) AS quota FROM w), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn FROM mixed) " +
        "SELECT r.doc_id, r.source FROM r JOIN q USING (source) WHERE rn <= quota"),

    // CDC snapshot apply: corpus version N+1 from a changeset with upserts
    // and deletion tombstones (deterministically derived from doc_id)
    Gate("q_cdc_apply", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val changes = cdcChanges(docs)
      graft.pipeline.Snapshots.applyChanges(docs, changes, Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // same changeset derivation; anti join + upsert union
      "WITH changes AS (SELECT doc_id, source, n_chars + 1000000 AS n_chars, " +
        "CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op " +
        "FROM documents WHERE doc_id % 3 = 0 OR doc_id % 7 = 0) " +
        "SELECT b.doc_id, b.source, b.n_chars FROM documents b " +
        "ANTI JOIN changes c ON b.doc_id = c.doc_id " +
        "UNION ALL SELECT doc_id, source, n_chars FROM changes WHERE op = 'upsert'"),

    // snapshot DIFF over the cdc fixture widened with genuinely-new keys
    // (doc_id + 10,000,000 for doc_id % 11 == 0) so added, removed, and
    // changed all appear; payload digests use the fixed U+0001/U+0002
    // md5 recipe the oracle recomputes byte-identically via chr(1)/chr(2)
    Gate("q_snapshot_diff", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val changes = cdcChanges(docs)
      val inserts = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L)
        .withColumn("op", lit("upsert"))
      val next = graft.pipeline.Snapshots.applyChanges(
        docs, changes.unionByName(inserts), Seq("doc_id"))
      graft.pipeline.Snapshots.diff(docs, next, Seq("doc_id"),
          Seq("source", "n_chars"))
        .select(col("doc_id"), col("change"), col("old_md5"), col("new_md5"))
    },
      // replays the widened changeset, the apply, the chr(1)/chr(2) concat
      // digests on both versions, and the full-outer classification
      "WITH changes AS (SELECT doc_id, source, n_chars + 1000000 AS n_chars, " +
        "CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op " +
        "FROM documents WHERE doc_id % 3 = 0 OR doc_id % 7 = 0), " +
        "inserts AS (SELECT doc_id + 10000000 AS doc_id, source, n_chars, " +
        "'upsert' AS op FROM documents WHERE doc_id % 11 = 0), " +
        "allch AS (SELECT * FROM changes UNION ALL SELECT * FROM inserts), " +
        "next AS (SELECT b.doc_id, b.source, b.n_chars FROM documents b " +
        "ANTI JOIN allch c ON b.doc_id = c.doc_id " +
        "UNION ALL SELECT doc_id, source, n_chars FROM allch WHERE op = 'upsert'), " +
        "bd AS (SELECT doc_id, md5(COALESCE(CAST(source AS VARCHAR), chr(2)) " +
        "|| chr(1) || COALESCE(CAST(n_chars AS VARCHAR), chr(2))) AS old_md5 " +
        "FROM documents), " +
        "nd AS (SELECT doc_id, md5(COALESCE(CAST(source AS VARCHAR), chr(2)) " +
        "|| chr(1) || COALESCE(CAST(n_chars AS VARCHAR), chr(2))) AS new_md5 " +
        "FROM next) " +
        "SELECT COALESCE(bd.doc_id, nd.doc_id) AS doc_id, " +
        "CASE WHEN bd.doc_id IS NULL THEN 'added' " +
        "WHEN nd.doc_id IS NULL THEN 'removed' " +
        "WHEN old_md5 <> new_md5 THEN 'changed' ELSE 'unchanged' END AS change, " +
        "old_md5, new_md5 " +
        "FROM bd FULL OUTER JOIN nd ON bd.doc_id = nd.doc_id " +
        "WHERE bd.doc_id IS NULL OR nd.doc_id IS NULL OR old_md5 <> new_md5"),

    // binary-classifier evaluation (the quality-filter calibration
    // report): label = doc contains the token "slow", score = n_chars,
    // threshold 300 — confusion counts, P/R/F1 permille, and EXACT
    // tie-corrected Mann–Whitney ROC-AUC carried as 2U integers; the
    // corpus collapses to per-distinct-score tallies (≤65536, cap-thrown)
    // before the one bounded cumsum window
    Gate("q_binary_eval", (s, d) => {
      // scattered input: the tokenize-and-label pass is the one
      // dominant full-corpus expression stage — see Tables.tableScattered
      val scored = Tables.tableScattered(s, d, "documents").select(
        slowLabel,
        col("n_chars").cast("long").as("score"))
      Evaluation.binaryEval(scored, "label", "score", threshold = 300)
    },
      // the bm25 replay feeding the eval counters: rank over the identical
      // same tokenizer-derived label, same per-distinct-score tallies,
      // same strictly-below cumsum and 2U tie arithmetic
      "WITH t AS (SELECT " + SlowLabelSql +
        "g AS (SELECT s, sum(y) AS cp, count(*) - sum(y) AS cn FROM t GROUP BY 1), " +
        "u AS (SELECT s, cp, cn, coalesce(sum(cn) OVER (ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb FROM g), " +
        "a AS (SELECT sum(cp) AS n_pos, sum(cn) AS n_neg, " +
        "sum(cp * nb * 2 + cp * cn) AS u2, " +
        "sum(CASE WHEN s >= 300 THEN cp ELSE 0 END) AS tp, " +
        "sum(CASE WHEN s >= 300 THEN cn ELSE 0 END) AS fp FROM u) " +
        "SELECT CAST(n_pos + n_neg AS BIGINT) AS n, " +
        EvalCountsSql),

    // the same classifier eval PER FOLD (md5 5-fold assignment): the
    // cross-validation report — per-fold confusion + P/R/F1 + exact AUC,
    // cumsum window partitioned by fold
    Gate("q_binary_eval_folds", (s, d) => {
      val scored = Sampling.deterministicFolds(
        Tables.tableScattered(s, d, "documents"), "doc_id", k = 5)
        .select(col("fold"),
          slowLabel,
          col("n_chars").cast("long").as("score"))
      Evaluation.binaryEvalGrouped(scored, Seq("fold"), "label", "score",
        threshold = 300)
    },
      // md5 fold assignment + the identical per-fold tallies, partitioned
      // strictly-below cumsum, and 2U/permille arithmetic
      "WITH t AS (SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
        "AS BIGINT) % 5 AS fold, " + SlowLabelSql +
        "g AS (SELECT fold, s, sum(y) AS cp, count(*) - sum(y) AS cn FROM t GROUP BY 1, 2), " +
        "u AS (SELECT fold, s, cp, cn, coalesce(sum(cn) OVER (PARTITION BY fold ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb FROM g), " +
        "a AS (SELECT fold, sum(cp) AS n_pos, sum(cn) AS n_neg, " +
        "sum(cp * nb * 2 + cp * cn) AS u2, " +
        "sum(CASE WHEN s >= 300 THEN cp ELSE 0 END) AS tp, " +
        "sum(CASE WHEN s >= 300 THEN cn ELSE 0 END) AS fp FROM u GROUP BY 1) " +
        "SELECT fold, CAST(n_pos + n_neg AS BIGINT) AS n, " +
        EvalCountsSql),

    // per-source class balance of the language label: majority share +
    // exact-integer Gini impurity — the label-QC pass before stratified
    // splits (Gini, not entropy: rational, so hash-exact cross-engine)
    Gate("q_class_balance", (s, d) =>
      Evaluation.classBalance(Tables.table(s, d, "documents"),
        Seq("source"), "lang"),
      // same (source, lang) counts, majority share, and integer Gini
      "WITH c AS (SELECT source, lang, count(*) AS c FROM documents " +
        "WHERE lang IS NOT NULL GROUP BY 1, 2) " +
        "SELECT source, CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(count(*) AS BIGINT) AS n_classes, " +
        "CAST((max(c) * 1000) // sum(c) AS BIGINT) AS majority_permille, " +
        "CAST((1000 * (sum(c) * sum(c) - sum(c * c))) // (sum(c) * sum(c)) AS BIGINT) " +
        "AS gini_permille FROM c GROUP BY 1"),

    // Spearman rank correlation per source between two document scores
    // (char length vs whitespace token count) — the do-two-quality-
    // scorers-agree QC gate; tie-averaged ranks doubled to stay integer,
    // exact-isqrt denominator
    Gate("q_rank_corr", (s, d) => {
      val toks = size(array_remove(
        split(trim(coalesce(col("text"), lit(""))), "\\s+"), "")).cast("long")
      val scored = Tables.table(s, d, "documents")
        .filter(col("n_chars").isNotNull)
        .select(col("source"), col("doc_id"), col("n_chars").as("x"), toks.as("y"))
      // sampleIdCol makes the operator self-sufficient past the 6,000-row
      // group cap (deterministic hash-order sample, oracle-replayable);
      // at gate scales every group is under the cap, so the sampling
      // window keeps all rows and the result is cap-free-identical
      Evaluation.rankCorrelation(scored, Seq("source"), "x", "y",
        sampleIdCol = Some("doc_id"))
    },
      // identical doubled tie-averaged ranks (rank() min-rank + tie count),
      // integer moments, exact-isqrt denominators
      // the QUALIFY replays the gate's hash-order sampling front-end —
      // a NO-OP at every gate scale (all groups under the 6,000 cap),
      // exactly as in the Spark operator
      ("WITH b AS (SELECT source, CAST(n_chars AS BIGINT) AS x, " +
        "CAST(len(list_filter(string_split_regex(trim(coalesce(text, '')), " +
        "'\\s+'), t -> t <> '')) AS BIGINT) AS y " +
        "FROM documents WHERE n_chars IS NOT NULL " +
        "QUALIFY row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 6000), " +
        "r AS (SELECT source, " +
        "2 * rank() OVER (PARTITION BY source ORDER BY x) + " +
        "count(*) OVER (PARTITION BY source, x) - 1 AS a, " +
        "2 * rank() OVER (PARTITION BY source ORDER BY y) + " +
        "count(*) OVER (PARTITION BY source, y) - 1 AS b FROM b), " +
        "m AS (SELECT source, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb, " +
        "CAST(sum(a * b) AS BIGINT) AS sab, CAST(sum(a * a) AS BIGINT) AS saa, " +
        "CAST(sum(b * b) AS BIGINT) AS sbb FROM r GROUP BY 1), " +
        "d AS (SELECT source, n, n * sab - sa * sb AS num, " +
        "n * saa - sa * sa AS dx, n * sbb - sb * sb AS dy FROM m), " +
        "q AS (SELECT *, CAST(FLOOR(SQRT(CAST(dx AS DOUBLE))) AS BIGINT) AS sx0, " +
        "CAST(FLOOR(SQRT(CAST(dy AS DOUBLE))) AS BIGINT) AS sy0 FROM d), " +
        "f AS (SELECT source, n, num, greatest(" +
        "(CASE WHEN sx0 * sx0 > dx THEN sx0 - 1 WHEN (sx0 + 1) * (sx0 + 1) <= dx " +
        "THEN sx0 + 1 ELSE sx0 END) * " +
        "(CASE WHEN sy0 * sy0 > dy THEN sy0 - 1 WHEN (sy0 + 1) * (sy0 + 1) <= dy " +
        "THEN sy0 + 1 ELSE sy0 END), 1) AS den FROM q) " +
        "SELECT source, n, ((num * 1000) // den) * 1000 + " +
        "(((num * 1000) % den) * 1000) // den AS spearman_micro FROM f")),

    // reliability bins for the same (label, score) pairs: 10 equal-width
    // integer bins over the observed [min, max], observed positive rate
    // + mean score per bin — binaryEval's calibration-plot data
    Gate("q_calibration", (s, d) => {
      val scored = Tables.table(s, d, "documents").select(
        slowLabel,
        col("n_chars").cast("long").as("score"))
      Evaluation.calibrationBins(scored, "label", "score", bins = 10)
    },
      // same label/score, same integer equal-width binning over the
      // replayed [min, max]
      "WITH t AS (SELECT " + SlowLabelSql +
        "mm AS (SELECT min(s) AS lo, max(s) AS hi FROM t) " +
        "SELECT CAST(((s - mm.lo) * 10) // (mm.hi - mm.lo + 1) AS BIGINT) AS bin, " +
        "count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos, " +
        "CAST((sum(y) * 1000) // count(*) AS BIGINT) AS pos_rate_permille, " +
        "CAST(sum(s) // count(*) AS BIGINT) AS mean_score " +
        "FROM t, mm GROUP BY 1"),

    // grouped exact lower weighted median (weight = quantity): the
    // robust center under unequal row mass; corpus collapses to
    // per-(group, value) sums before the one window
    Gate("q_weighted_median", (s, d) => {
      val li = Tables.table(s, d, "lineitem").select(
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        col("l_quantity").cast("long").as("qty"))
      Sketches.weightedMedian(li, Seq("l_returnflag"), "price_cents", "qty")
    },
      // identical per-(group, value) collapse, cumulative window, and the
      // lower-median pick (first value with 2·cum ≥ total)
      WeightedMedianOracleSql),

    // the sort-free scale twin: the SAME lower weighted median located
    // by weighted histogram refinement (~8 counting scans, no window,
    // no sort) — the path when groups are few and the per-group window
    // would collapse parallelism. Same oracle as q_weighted_median.
    Gate("q_weighted_median_refine", (s, d) => {
      val li = Tables.table(s, d, "lineitem").select(
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        col("l_quantity").cast("long").as("qty"))
      Sketches.weightedMedianRefine(li, "l_returnflag", "price_cents", "qty")
    },
      // the refinement twin must be output-identical — SAME oracle
      WeightedMedianOracleSql),

    // pairwise-preference leaderboard with the Wilson z=2 lower bound
    // (sort-by-LCB, the small-sample-robust ranking rule): comparisons
    // derived from events — items a/b from event_id digits, winner by a
    // deterministic integer rule so every item carries a distinct
    // win/loss mix; all arithmetic integer incl. the exact isqrt
    Gate("q_pref_winrate", (s, d) => {
      val e = Tables.table(s, d, "events").select(
        pmod(col("event_id"), lit(13L)).as("a"),
        (lit(1L) + pmod(expr("event_id div 13"), lit(12L))).as("b"),
        col("event_id"))
        .filter(col("a") =!= col("b"))
      val pick = pmod(col("event_id"), col("a") + col("b") + lit(2L)) <= col("a")
      val pairs = e.select(
        when(pick, col("a")).otherwise(col("b")).as("winner"),
        when(pick, col("b")).otherwise(col("a")).as("loser"))
      graft.pipeline.Preference.leaderboard(pairs)
    },
      // pairs re-derived from event_id digits, then the identical union
      // tally, scaled-integer Wilson radicand, and the same
      // floor(sqrt)+fixup exact isqrt
      "WITH e AS (SELECT event_id % 13 AS a, 1 + (event_id // 13) % 12 AS b, " +
        "event_id FROM events WHERE event_id % 13 <> 1 + (event_id // 13) % 12), " +
        "p AS (SELECT CASE WHEN event_id % (a + b + 2) <= a THEN a ELSE b END AS winner, " +
        "CASE WHEN event_id % (a + b + 2) <= a THEN b ELSE a END AS loser FROM e), " +
        "t AS (SELECT item, CAST(sum(win) AS BIGINT) AS wins, " +
        "CAST(sum(loss) AS BIGINT) AS losses FROM " +
        "(SELECT winner AS item, 1 AS win, 0 AS loss FROM p " +
        "UNION ALL SELECT loser, 0, 1 FROM p) GROUP BY 1), " +
        "g AS (SELECT item, wins, losses, wins + losses AS games, " +
        "((wins * losses) // (wins + losses)) * 1000000 + " +
        "(((wins * losses) % (wins + losses)) * 1000000) // (wins + losses) " +
        "+ 1000000 AS bigr FROM t), " +
        "q0 AS (SELECT *, CAST(FLOOR(SQRT(CAST(bigr AS DOUBLE))) AS BIGINT) AS s0 FROM g), " +
        "f AS (SELECT *, CASE WHEN s0 * s0 > bigr THEN s0 - 1 " +
        "WHEN (s0 + 1) * (s0 + 1) <= bigr THEN s0 + 1 ELSE s0 END AS s FROM q0) " +
        "SELECT item, wins, losses, games, " +
        "(wins * 1000) // games AS winrate_permille, " +
        "GREATEST((1000 * (wins + 2) - 2 * s) // (games + 4), CAST(0 AS BIGINT)) " +
        "AS wilson_lcb_permille FROM f"),

    // Cohen's kappa between two synthetic quality raters (char-length
    // bucket vs token-count bucket over the same 0..4 domain) — the
    // label-QC agreement gate; one bounded label-pair groupBy
    Gate("q_kappa", (s, d) => {
      val toks = size(array_remove(
        split(trim(coalesce(col("text"), lit(""))), "\\s+"), "")).cast("long")
      val labels = Tables.table(s, d, "documents")
        .filter(col("n_chars").isNotNull)
        .select(least(expr("n_chars div 150"), lit(4L)).as("rater_a"),
          toks.as("__t"))
        .withColumn("rater_b", least(expr("__t div 25"), lit(4L)))
      graft.pipeline.Preference.agreementKappa(labels, "rater_a", "rater_b")
    },
      // the same two derived raters, label-pair counts, marginal product
      // chance term, and the integer kappa form
      "WITH l AS (SELECT least(n_chars // 150, 4) AS la, " +
        "least(len(list_filter(string_split_regex(trim(coalesce(text, '')), " +
        "'\\s+'), x -> x <> '')) // 25, 4) AS lb " +
        "FROM documents WHERE n_chars IS NOT NULL), " +
        "pc AS (SELECT la, lb, count(*) AS c FROM l GROUP BY 1, 2), " +
        "ma AS (SELECT la AS k, CAST(sum(c) AS BIGINT) AS ak FROM pc GROUP BY 1), " +
        "mb AS (SELECT lb AS k, CAST(sum(c) AS BIGINT) AS bk FROM pc GROUP BY 1), " +
        "ch AS (SELECT CAST(coalesce(sum(ak * bk), 0) AS BIGINT) AS sum_ab " +
        "FROM ma JOIN mb USING (k)), " +
        "tt AS (SELECT CAST(sum(c) AS BIGINT) AS n_items, " +
        "CAST(coalesce(sum(CASE WHEN la = lb THEN c END), 0) AS BIGINT) AS n_agree FROM pc) " +
        "SELECT n_items, n_agree, (n_agree * 1000) // n_items AS po_permille, " +
        "(sum_ab * 1000) // (n_items * n_items) AS pe_permille, " +
        "(1000 * (n_items * n_agree - sum_ab)) // " +
        "greatest(n_items * n_items - sum_ab, 1) AS kappa_permille FROM tt, ch"),

    // largest-remainder apportionment of a fixed token budget across
    // sources (allocations sum to exactly the budget; prime budget so
    // remainders are non-trivial)
    Gate("q_apportion", (s, d) => {
      val w = Tables.table(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      Sampling.apportion(w, "source", "n_docs", budget = 1000003L)
    },
      // per-source counts, floor shares, and the largest-remainder rank
      // (remainder DESC, source ASC) topping up to the exact budget
      "WITH w AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS wt FROM w), " +
        "b AS (SELECT source, n_docs, (1000003 * n_docs) // wt AS base_alloc, " +
        "(1000003 * n_docs) % wt AS rem FROM w, t), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk, " +
        "sum(base_alloc) OVER () AS sb FROM b) " +
        "SELECT source, n_docs, base_alloc, " +
        "CAST(CASE WHEN rk <= 1000003 - sb THEN 1 ELSE 0 END AS BIGINT) AS extra, " +
        "base_alloc + CASE WHEN rk <= 1000003 - sb THEN 1 ELSE 0 END AS alloc FROM r"),

    // EQUAL-FREQUENCY reliability bins for the same pairs — the standard
    // calibration practice on skewed scores (each bin ~n/10 examples);
    // edges = exact k-th values via the shared-scan refinement, no sort
    Gate("q_calibration_quantile", (s, d) => {
      val scored = Tables.table(s, d, "documents").select(
        slowLabel,
        col("n_chars").cast("long").as("score"))
      Evaluation.calibrationBinsQuantile(scored, "label", "score", bins = 10)
    },
      // edges re-derived as the values at ranks ceil(i·n/10) via
      // row_number (value-deterministic under ties), then the same
      // strictly-greater edge count per score
      "WITH t AS (SELECT " + SlowLabelSql +
        "nn AS (SELECT count(*) AS n FROM t), " +
        "rk AS (SELECT (i * nn.n + 9) // 10 AS k FROM range(1, 10) r(i), nn " +
        "WHERE (i * nn.n + 9) // 10 BETWEEN 1 AND nn.n), " +
        "o AS (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM t), " +
        "e AS (SELECT o.s AS edge FROM o JOIN rk ON o.rn = rk.k), " +
        "b AS (SELECT y, s, (SELECT count(*) FROM e WHERE t2.s > e.edge) AS bin " +
        "FROM t t2(y, s)) " +
        "SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(y) AS BIGINT) AS n_pos, " +
        "CAST((sum(y) * 1000) // count(*) AS BIGINT) AS pos_rate_permille, " +
        "CAST(sum(s) // count(*) AS BIGINT) AS mean_score " +
        "FROM b GROUP BY 1"),

    // scalar function family: JSON extraction over the props column
    Gate("q_json_extract", (s, d) =>
      Tables.table(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k")),
      "SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events"),

    // scalar function family: date truncation + grouping
    Gate("q_date_trunc", (s, d) =>
      Tables.table(s, d, "orders")
        .groupBy(unix_seconds(date_trunc("month", col("o_orderdate"))).as("month_epoch"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents")),
      "SELECT CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_epoch, " +
        "count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY 1"),

    // SCD2 AS-OF LOOKUP — the composition the history exists for: each
    // event resolved to the dimension version valid AT its timestamp
    // (latest valid_from <= ts; same-instant ties to the highest
    // version, matching the asof window's (ts, id) order); built from
    // Snapshots.scd2 + AsofJoin.asofJoin, so the whole path is the
    // windowed single-shuffle shape, no range join anywhere in Spark
    Gate("q_scd2_lookup", (s, d) => {
      val ev = Tables.table(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("ts_us"))
      val hist = Snapshots.scd2(Tables.table(s, d, "events"), "user_id",
        "ts", Seq("event_type"))
        .select(col("user_id"), expr("unix_micros(valid_from)").as("vf_us"),
          col("event_type"), col("version_n"))
      graft.api.AsofJoin.asofJoin(ev, hist, "user_id", "ts_us", "vf_us",
        Seq("event_type", "version_n"), "version_n")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_event_type").as("event_type_version"),
          col("asof_version_n").as("version_n"))
    },
      // SCD2-lookup replay: rebuild the history, then pick per event the
      // version with max (valid_from, version_n) among valid_from <= ts
      "WITH e0 AS (SELECT user_id, epoch_us(ts) AS t, event_type AS a " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "m AS (SELECT user_id, t, a, row_number() OVER w AS rn, lag(a) OVER w AS pa " +
        "FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY t, a)), " +
        "c AS (SELECT user_id, t, a FROM m WHERE rn = 1 OR (a IS DISTINCT FROM pa)), " +
        "h AS (SELECT user_id, a, t AS vf, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY t, a) AS version_n FROM c), " +
        "ev AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "j AS (SELECT ev.event_id, ev.user_id, ev.t, h.a, h.version_n, " +
        "row_number() OVER (PARTITION BY ev.event_id ORDER BY h.vf DESC, h.version_n DESC) AS rn " +
        "FROM ev JOIN h ON ev.user_id = h.user_id AND h.vf <= ev.t) " +
        "SELECT event_id, user_id, CAST(t AS BIGINT) AS ts_us, " +
        "a AS event_type_version, CAST(version_n AS BIGINT) AS version_n " +
        "FROM j WHERE rn = 1"),

    // SCD type-2 history build (Kimball): the events log versioned into
    // per-user event_type validity intervals — consecutive duplicate
    // observations collapse into one version, reappearing values start
    // NEW versions (runs, not distinct states), same-ts ties order by
    // attribute (deterministic), open versions carry NULL valid_to
    Gate("q_scd2", (s, d) =>
      Snapshots.scd2(Tables.table(s, d, "events"), "user_id", "ts",
        Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("version_n")),
      // SCD2 replay: run starts = rows whose attribute differs (null-safe)
      // from the previous observation in (ts, attr) order; lead() over the
      // survivors yields valid_to; version_n re-ranks the survivors
      "WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS a " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "m AS (SELECT user_id, t, a, " +
        "row_number() OVER w AS rn, lag(a) OVER w AS pa " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, a)), " +
        "c AS (SELECT user_id, t, a FROM m WHERE rn = 1 OR (a IS DISTINCT FROM pa)) " +
        "SELECT user_id, a AS event_type, CAST(t AS BIGINT) AS valid_from_us, " +
        "CAST(lead(t) OVER w AS BIGINT) AS valid_to_us, " +
        "CAST(row_number() OVER w AS BIGINT) AS version_n " +
        "FROM c WINDOW w AS (PARTITION BY user_id ORDER BY t, a)"),

    // KMV sketch ALGEBRA: per-supplier part-vocabulary overlap between
    // the first and second half of the shipping timeline, from two k=64
    // bottom-hash samples — union/Jaccard/intersection estimates computed
    // sketch-to-sketch (no re-scan of raw values), every step integer so
    // the oracle rebuilds the identical numbers
    Gate("q_kmv_setops", (s, d) => {
      // scattered input: both sketch passes are md5-bound off the
      // single-split scan — see Tables.tableScattered
      val li = Tables.tableScattered(s, d, "lineitem")
      val a = Sketches.kmvSample(
        li.filter(col("l_shipdate") < lit("1995-06-01").cast("timestamp")),
        "l_suppkey", "l_partkey", k = 64)
      val b = Sketches.kmvSample(
        li.filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp")),
        "l_suppkey", "l_partkey", k = 64)
      Sketches.kmvSetEstimates(a, b, "l_suppkey", k = 64)
    },
      // KMV set-op replay: per-side bottom-64 distinct-hash samples, the
      // bottom-64 of their union, exact membership flags (X's members are
      // ≤ each side's k-th smallest, so sample membership IS set
      // membership), then the integer estimators
      "WITH ha AS (SELECT DISTINCT l_suppkey, greatest(CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv " +
        "FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate < TIMESTAMP '1995-06-01'), " +
        "sa AS (SELECT l_suppkey, hv FROM (SELECT l_suppkey, hv, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY hv) AS rn FROM ha) WHERE rn <= 64), " +
        "hb AS (SELECT DISTINCT l_suppkey, greatest(CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv " +
        "FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate >= TIMESTAMP '1995-06-01'), " +
        "sb AS (SELECT l_suppkey, hv FROM (SELECT l_suppkey, hv, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY hv) AS rn FROM hb) WHERE rn <= 64), " +
        "uu AS (SELECT l_suppkey, hv FROM sa UNION SELECT l_suppkey, hv FROM sb), " +
        "x AS (SELECT l_suppkey, hv FROM (SELECT l_suppkey, hv, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY hv) AS rn FROM uu) WHERE rn <= 64), " +
        "fx AS (SELECT x.l_suppkey, CAST(count(*) AS BIGINT) AS nx, max(x.hv) AS hk, " +
        "CAST(sum(CASE WHEN a.hv IS NOT NULL AND b.hv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nboth " +
        "FROM x LEFT JOIN sa a ON x.l_suppkey = a.l_suppkey AND x.hv = a.hv " +
        "LEFT JOIN sb b ON x.l_suppkey = b.l_suppkey AND x.hv = b.hv GROUP BY 1), " +
        "ea AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n, max(hv) AS hk FROM sa GROUP BY 1), " +
        "eb AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n, max(hv) AS hk FROM sb GROUP BY 1), " +
        "f AS (SELECT fx.l_suppkey, " +
        "CAST(CASE WHEN ea.n < 64 THEN ea.n ELSE (63 * 4294967296) // ea.hk END AS BIGINT) AS est_a, " +
        "CAST(CASE WHEN eb.n < 64 THEN eb.n ELSE (63 * 4294967296) // eb.hk END AS BIGINT) AS est_b, " +
        "CAST(CASE WHEN fx.nx < 64 THEN fx.nx ELSE (63 * 4294967296) // fx.hk END AS BIGINT) AS est_union, " +
        "CAST((1000 * fx.nboth) // fx.nx AS BIGINT) AS jaccard_permille " +
        "FROM fx JOIN ea USING (l_suppkey) JOIN eb USING (l_suppkey)) " +
        "SELECT l_suppkey, est_a, est_b, est_union, jaccard_permille, " +
        "CAST((jaccard_permille * est_union) // 1000 AS BIGINT) AS est_intersect FROM f"),

    // Count-Min point-frequency estimates (d=4 rows × w=256 columns, the
    // frequency complement of SpaceSaving's top-k): per-returnflag
    // estimated occurrence counts for every Brand#23 part key; w is kept
    // small enough that collisions fire and the ≥-true overestimation
    // bound is exercised, and the md5 row hashes make the whole sketch
    // SQL-replayable
    Gate("q_cms_counts", (s, d) => {
      // scattered input: the d=4 md5 cell pass is expression-bound
      // off the single-split scan — see Tables.tableScattered
      val sk = Sketches.cmsSketch(Tables.tableScattered(s, d, "lineitem"),
        "l_returnflag", "l_partkey", d = 4, w = 256)
      val items = Tables.table(s, d, "part")
        .filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey").as("l_partkey"))
      Sketches.cmsLookup(sk, items, "l_returnflag", "l_partkey", d = 4, w = 256)
    },
      // CMS replay: the d=4 × w=256 counter table rebuilt from the same
      // md5('r:value') column hashes, then min-of-d cells per (group, item)
      // with missing cells reading 0
      "WITH rr AS (SELECT unnest(range(0, 4)) AS r), " +
        "cells AS (SELECT l_returnflag, r, " +
        "CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS c " +
        "FROM lineitem CROSS JOIN rr WHERE l_partkey IS NOT NULL), " +
        "cnt AS (SELECT l_returnflag, r, c, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2, 3), " +
        "items AS (SELECT DISTINCT p_partkey AS l_partkey FROM part WHERE p_brand = 'Brand#23'), " +
        "ic AS (SELECT l_partkey, r, " +
        "CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS c " +
        "FROM items CROSS JOIN rr), " +
        "grp AS (SELECT DISTINCT l_returnflag FROM lineitem) " +
        "SELECT g.l_returnflag, ic.l_partkey, CAST(min(coalesce(cnt.cnt, 0)) AS BIGINT) AS est_count " +
        "FROM grp g CROSS JOIN ic LEFT JOIN cnt ON cnt.l_returnflag = g.l_returnflag " +
        "AND cnt.r = ic.r AND cnt.c = ic.c GROUP BY 1, 2"),

    // EXACT global quartiles by iterative histogram-refinement selection
    // (Sketches.kthValue): no total-order shuffle — ~log_1024(range)
    // filtered counting scans locate the exact k-th element; ranks are
    // ceil(nq) over integer-cent prices; oracle = row_number replay
    // (rank arithmetic is engine-independent, ties included)
    Gate("q_kth_value", (s, d) => {
      val v = Tables.table(s, d, "lineitem")
        .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val n = v.count()
      import s.implicits._
      // one multi-rank selection: every refinement round's counting scan
      // is shared across the three quartile brackets (~8 scans vs ~24)
      val spec = Seq(("p25", (n + 3) / 4), ("p50", (n + 1) / 2),
        ("p75", (3 * n + 3) / 4))
      spec.zip(Sketches.kthValues(v, "cents", spec.map(_._2)))
        .map { case ((nm, k), value) => (nm, k, value) }
        .toDF("q", "k", "value")
    },
      // exact-selection replay: the k-th element is rank arithmetic over
      // the sorted column — row_number ties are irrelevant to the VALUE
      "WITH t AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn, " +
        "count(*) OVER () AS n FROM t) " +
        "SELECT 'p25' AS q, CAST((n + 3) // 4 AS BIGINT) AS k, " +
        "CAST(cents AS BIGINT) AS value FROM r WHERE rn = (n + 3) // 4 " +
        "UNION ALL SELECT 'p50', CAST((n + 1) // 2 AS BIGINT), " +
        "CAST(cents AS BIGINT) FROM r WHERE rn = (n + 1) // 2 " +
        "UNION ALL SELECT 'p75', CAST((3 * n + 3) // 4 AS BIGINT), " +
        "CAST(cents AS BIGINT) FROM r WHERE rn = (3 * n + 3) // 4"),

    // winsorized robust price stats (composition over exact k-th
    // selection): p05/p95 located by the shared-scan multi-rank
    // refinement (~8 counting scans, NO total-order shuffle), then one
    // clip-aggregate pass — outlier-robust corpus metrics at 100 TB
    // MAD robust outlier stats (median absolute deviation + the Iglewicz-
    // Hoaglin modified z-score rule |0.6745·dev/MAD| > 3.5, cross-
    // multiplied to integers: 6745·dev > 35000·MAD): the outlier-robust
    // sibling of q_winsorize, located by TWO dependent exact-k-th
    // selections (median first, then the median of |len − med|) via the
    // shared-scan histogram refinement — ~16 counting scans total, NO
    // total-order shuffle at any corpus size. The corpus length
    // distribution is uniform (max modified z ≈ 1.35 — the 3.5 rule can
    // never fire), so the gate PLANTS a deterministic tail (+5000 chars
    // on doc_id % 97 = 0, the q_script_mix planted-fixture precedent) to
    // exercise both flag branches; the oracle replays the plant
    Gate("q_mad", (s, d) => {
      val v = Tables.table(s, d, "documents")
        .filter(col("n_chars").isNotNull)
        .select((col("n_chars").cast("long") +
          when(col("doc_id") % 97 === 0, 5000L).otherwise(0L)).as("len"))
      val n = v.count()
      val kMed = (n + 1) / 2 // ceil(n/2): the lower median rank
      val Seq(med) = Sketches.kthValues(v, "len", Seq(kMed))
      val dev = v.select(abs(col("len") - med).as("dev"))
      val Seq(mad) = Sketches.kthValues(dev, "dev", Seq(kMed))
      v.agg(count(lit(1)).as("n"),
          sum(when(abs(col("len") - med) * 6745L > lit(35000L) * mad, 1L)
            .otherwise(0L)).as("n_outliers"),
          max(abs(col("len") - med)).as("max_abs_dev"))
        .withColumn("median_len", lit(med))
        .withColumn("mad_len", lit(mad))
    },
      // same planted tail, same ceil-median ranks located by row_number,
      // same integer cross-multiplied modified-z rule
      "WITH t AS (SELECT CAST(n_chars AS BIGINT) + " +
        "CASE WHEN doc_id % 97 = 0 THEN 5000 ELSE 0 END AS len " +
        "FROM documents WHERE n_chars IS NOT NULL), " +
        "r AS (SELECT len, row_number() OVER (ORDER BY len) AS rn, " +
        "count(*) OVER () AS n FROM t), " +
        "m AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN len END) AS med FROM r), " +
        "r2 AS (SELECT dev, row_number() OVER (ORDER BY dev) AS rn, " +
        "count(*) OVER () AS n FROM (SELECT abs(len - m.med) AS dev FROM t, m)), " +
        "m2 AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad FROM r2) " +
        "SELECT count(*) AS n, " +
        "CAST(sum(CASE WHEN abs(len - m.med) * 6745 > 35000 * m2.mad " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "CAST(max(abs(len - m.med)) AS BIGINT) AS max_abs_dev, " +
        "CAST(max(m.med) AS BIGINT) AS median_len, " +
        "CAST(max(m2.mad) AS BIGINT) AS mad_len " +
        "FROM t, m, m2"),

    Gate("q_winsorize", (s, d) => {
      val v = Tables.table(s, d, "lineitem")
        .filter(col("l_extendedprice").isNotNull)
        .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val n = v.count()
      val kLo = (n + 19) / 20          // ceil(n/20)  = p05 rank
      val kHi = (19 * n + 19) / 20     // ceil(19n/20) = p95 rank
      val Seq(lo, hi) = Sketches.kthValues(v, "cents", Seq(kLo, kHi))
      v.agg(count(lit(1)).as("n"),
          sum(when(col("cents") < lo, 1L).otherwise(0L)).as("n_clipped_low"),
          sum(when(col("cents") > hi, 1L).otherwise(0L)).as("n_clipped_high"),
          sum(greatest(least(col("cents"), lit(hi)), lit(lo)))
            .as("winsorized_sum_cents"))
        .withColumn("p05_cents", lit(lo))
        .withColumn("p95_cents", lit(hi))
    },
      // same ceil-rank bound location (row_number is unique so the CASE
      // picks exactly one row per bound), same clip arithmetic
      "WITH t AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL), " +
        "r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn, " +
        "count(*) OVER () AS n FROM t), " +
        "b AS (SELECT max(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo, " +
        "max(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS hi FROM r) " +
        "SELECT count(*) AS n, " +
        "CAST(sum(CASE WHEN cents < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low, " +
        "CAST(sum(CASE WHEN cents > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high, " +
        "CAST(sum(greatest(least(cents, b.hi), b.lo)) AS BIGINT) AS winsorized_sum_cents, " +
        "CAST(max(b.lo) AS BIGINT) AS p05_cents, " +
        "CAST(max(b.hi) AS BIGINT) AS p95_cents " +
        "FROM t CROSS JOIN b"),

    // pairwise association rules (2-itemset support/confidence/lift, all
    // integer permille) over order baskets — the "bought together" report;
    // minSupport=2 keeps ~3.5k genuinely co-occurring part pairs
    Gate("q_assoc_pairs", (s, d) =>
      MarketBasket.pairRules(Tables.table(s, d, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 2),
      "WITH items0 AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem " +
        "WHERE l_partkey IS NOT NULL AND l_orderkey IS NOT NULL), " +
        "sz AS (SELECT b, count(*) AS s FROM items0 GROUP BY 1), " +
        "items AS (SELECT items0.b, items0.i FROM items0 JOIN sz ON items0.b = sz.b AND sz.s <= 1000), " +
        "nb AS (SELECT count(*) AS n_baskets FROM sz WHERE s <= 1000), " +
        "p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_ab FROM items x " +
        "JOIN items y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "c AS (SELECT i, count(*) AS n FROM items GROUP BY 1) " +
        "SELECT p.item_a, p.item_b, p.n_ab, ca.n AS n_a, cb.n AS n_b, " +
        "p.n_ab * 1000 // ca.n AS conf_ab_permille, " +
        "p.n_ab * 1000 // cb.n AS conf_ba_permille, " +
        "p.n_ab * nb.n_baskets * 1000 // (ca.n * cb.n) AS lift_permille " +
        "FROM p JOIN c ca ON p.item_a = ca.i JOIN c cb ON p.item_b = cb.i CROSS JOIN nb"),

    // top-k 3-itemset rules (Apriori level 3): frequent-pair-pruned
    // candidate generation, (support DESC, items ASC) total-order cut,
    // integer-permille confidences for all three rule orientations.
    // Baskets are order → BRAND sets (constant 25-brand domain, so triple
    // co-occurrence exists and the top-k cut binds at EVERY scale —
    // part-key triples thin out as the key domain grows: 12 at sf0.01,
    // zero at sf0.1)
    Gate("q_assoc_triples", (s, d) => {
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val brands = Tables.table(s, d, "part")
        .select(col("p_partkey"), col("p_brand"))
      MarketBasket.tripleRules(
        li.join(brands, col("l_partkey") === col("p_partkey")),
        "l_orderkey", "p_brand", minSupport = 2, topK = 300)
    },
      // full lattice replay: all within-basket triples (DuckDB affords the
      // unpruned Σ size³ enumeration at gate scale; the Spark side's
      // frequent-pair prune removes only sub-threshold candidates, so the
      // surviving sets are identical), same total-order top-k cut
      "WITH items0 AS (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i FROM lineitem l " +
        "JOIN part p ON l.l_partkey = p.p_partkey " +
        "WHERE p.p_brand IS NOT NULL AND l.l_orderkey IS NOT NULL), " +
        "sz AS (SELECT b, count(*) AS s FROM items0 GROUP BY 1), " +
        "items AS (SELECT items0.b, items0.i FROM items0 JOIN sz ON items0.b = sz.b AND sz.s <= 1000), " +
        "p AS (SELECT x.i AS item_a, y.i AS item_b, count(*) AS n_pair FROM items x " +
        "JOIN items y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "t AS (SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c, count(*) AS n_abc " +
        "FROM items x JOIN items y ON x.b = y.b AND x.i < y.i " +
        "JOIN items z ON y.b = z.b AND y.i < z.i " +
        "GROUP BY 1, 2, 3 HAVING count(*) >= 2), " +
        "k AS (SELECT * FROM t ORDER BY n_abc DESC, item_a, item_b, item_c LIMIT 300) " +
        "SELECT k.item_a, k.item_b, k.item_c, k.n_abc, " +
        "ab.n_pair AS n_ab, ac.n_pair AS n_ac, bc.n_pair AS n_bc, " +
        "k.n_abc * 1000 // ab.n_pair AS conf_ab_c_permille, " +
        "k.n_abc * 1000 // ac.n_pair AS conf_ac_b_permille, " +
        "k.n_abc * 1000 // bc.n_pair AS conf_bc_a_permille " +
        "FROM k JOIN p ab ON k.item_a = ab.item_a AND k.item_b = ab.item_b " +
        "JOIN p ac ON k.item_a = ac.item_a AND k.item_c = ac.item_b " +
        "JOIN p bc ON k.item_b = bc.item_a AND k.item_c = bc.item_b"),

    // KMV distinct-count sketch: per-supplier estimate of distinct parts
    // (k=64 min-hashes; ~600 true distinct per supplier, so the
    // estimation path fires at every gate scale). md5 hashing makes the
    // sketch itself deterministic — the oracle rebuilds it, not a bound.
    Gate("q_distinct_kmv", (s, d) =>
      Sketches.distinctKmv(Tables.table(s, d, "lineitem"),
        "l_suppkey", "l_partkey", k = 64),
      "WITH h AS (SELECT DISTINCT l_suppkey, greatest(CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv " +
        "FROM lineitem WHERE l_partkey IS NOT NULL), " +
        "r AS (SELECT l_suppkey, hv, row_number() OVER (PARTITION BY l_suppkey ORDER BY hv) AS rn FROM h), " +
        "kk AS (SELECT l_suppkey, count(*) AS n_kept, max(CASE WHEN rn = 64 THEN hv END) AS hk " +
        "FROM r WHERE rn <= 64 GROUP BY 1) " +
        "SELECT l_suppkey, n_kept, CASE WHEN n_kept < 64 THEN n_kept " +
        "ELSE (63 * 4294967296) // hk END AS est_distinct FROM kk"),

    // HLL distinct-count sketch (m=64 registers): the replayable twin of
    // approx_count_distinct — integer-exact harmonic mean, so the oracle
    // REBUILDS the registers rather than trusting an error bound
    Gate("q_distinct_hll", (s, d) =>
      Sketches.distinctHll(Tables.table(s, d, "lineitem"),
        "l_suppkey", "l_partkey", b = 6),
      // full register replay: same 32-bit hash (0→1), top-6-bit register
      // index, leading-zero rank via length(bin(w)) — identical in both
      // engines — and the exact integer-scaled harmonic mean
      "WITH h AS (SELECT DISTINCT l_suppkey, greatest(CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv " +
        "FROM lineitem WHERE l_partkey IS NOT NULL), " +
        "r AS (SELECT l_suppkey, hv // 67108864 AS j, hv % 67108864 AS w FROM h), " +
        "reg AS (SELECT l_suppkey, j, max(CASE WHEN w = 0 THEN 27 ELSE 26 - length(bin(w)) + 1 END) AS m FROM r GROUP BY 1, 2), " +
        "g AS (SELECT l_suppkey, count(*) AS n_hit, sum(CAST(1 AS BIGINT) << CAST(32 - m AS INTEGER)) AS sp FROM reg GROUP BY 1) " +
        "SELECT l_suppkey, n_hit, CAST((709 * 4096 * 4294967296) // " +
        "(1000 * (sp + (64 - n_hit) * 4294967296)) AS BIGINT) AS est_distinct FROM g"),

    // bottom-k uniform-sample quantile sketch: per-supplier p10/p50/p90
    // of line-item price cents from a k=64 hash-minimal row sample —
    // deterministic membership, so the oracle rebuilds the exact sample
    Gate("q_quantile_sketch", (s, d) =>
      Sketches.quantileSketch(
        Tables.tableScattered(s, d, "lineitem")
          .withColumn("row_id", expr("l_orderkey * 10 + l_linenumber"))
          .withColumn("cents",
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)")),
        "l_suppkey", "row_id", "cents", k = 64,
        qsPermille = Seq(100, 500, 900)),
      // full sample replay: same md5(row_id) 32-bit hash (0→1), the k=64
      // (hv, v)-lexicographic minimum rows per group, sorted sample, exact
      // lower-quantile indexing — identical integer arithmetic end to end
      "WITH r AS (SELECT l_suppkey, " +
        "greatest(CAST('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 8) AS BIGINT), 1) AS hv, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL), " +
        "s AS (SELECT l_suppkey, v FROM (SELECT l_suppkey, hv, v, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY hv, v) AS rn FROM r) WHERE rn <= 64), " +
        "g AS (SELECT l_suppkey, list_sort(list(v)) AS vals FROM s GROUP BY 1) " +
        "SELECT l_suppkey, CAST(len(vals) AS BIGINT) AS n_sample, " +
        "vals[CAST((100 * (len(vals) - 1)) // 1000 AS INTEGER) + 1] AS q100, " +
        "vals[CAST((500 * (len(vals) - 1)) // 1000 AS INTEGER) + 1] AS q500, " +
        "vals[CAST((900 * (len(vals) - 1)) // 1000 AS INTEGER) + 1] AS q900 FROM g")
  )
}
