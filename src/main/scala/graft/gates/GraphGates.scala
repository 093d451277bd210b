package graft
package gates

import graft.pipeline.Graph
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph gates over the customer→supplier purchase graph derived from
  * orders ⋈ lineitem. */
object GraphGates {

  /** The customer→supplier purchase graph, one edge per lineitem that
    * `lines` keeps: customer c is node 2c and supplier s is node 2s + 1,
    * so the two sides never share an id. */
  private def purchaseEdges(s: SparkSession, d: String,
                            lines: DataFrame => DataFrame = identity,
                            src: String = "src", dst: String = "dst"): DataFrame = {
    val l = lines(Tables.table(s, d, "lineitem")).select(col("l_orderkey"), col("l_suppkey"))
    Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as(src), (col("l_suppkey") * 2 + 1).as(dst))
  }

  /** BUILDING-segment customers with custkey % 10 = 0, as purchase-graph
    * nodes: the seed set of the BFS, SSSP and temporal-reach gates. */
  private def buildingSeeds(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_custkey") % 10 === 0)
      .select((col("c_custkey") * 2).as("node"))

  /** The brand affinity graph: brands (parsed from p_brand) are adjacent
    * iff they co-occur in at least 2.2% of orders (integer ratio test). */
  private def brandAffinityEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.table(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val brands = Tables.table(s, d, "part")
      .select(col("p_partkey"), expr("CAST(substr(p_brand, 7) AS BIGINT)").as("i"))
    val items = li.join(brands, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("bkt"), col("i")).distinct()
    val nb = items.agg(count_distinct(col("bkt")).as("nb"))
    items.select(col("bkt"), col("i").as("src"))
      .join(items.select(col("bkt"), col("i").as("dst")), "bkt")
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(nb))
      .filter(expr("c * 10000 >= 220 * nb"))
      .select(col("src"), col("dst"))
  }

  /** SQL replay of [[brandAffinityEdges]] as `e(a, b)`, its triangles
    * `t(x, y, z)` with x < y < z, and `m(node)`, one row per triangle
    * membership; opens the WITH clause. */
  private val BrandTriangleCtes: String =
    "WITH items AS (SELECT DISTINCT l.l_orderkey AS bkt, CAST(substr(p.p_brand, 7) AS BIGINT) AS i " +
      "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey), " +
      "nb AS (SELECT count(DISTINCT bkt) AS n FROM items), " +
      "pr AS (SELECT x.i AS a, y.i AS b, count(*) AS c FROM items x " +
      "JOIN items y ON x.bkt = y.bkt AND x.i < y.i GROUP BY 1, 2), " +
      "e AS (SELECT a, b FROM pr CROSS JOIN nb WHERE c * 10000 >= 220 * n), " +
      "t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 " +
      "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
      "m AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)"

  /** Shared LPA replay chain (purchase graph → canonical simple graph →
    * 3 synchronous vote/argmax rounds) — the common prefix of the
    * q_label_prop / q_community_stats / q_modularity oracles. */
  private val LpaCtes: String =
    "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
      "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
      "canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b " +
      "FROM e0 WHERE least(src, dst) < greatest(src, dst)), " +
      "nodes AS (SELECT a AS node FROM canon UNION SELECT b FROM canon), " +
      "adj AS (SELECT a AS node, b AS nbr FROM canon " +
      "UNION ALL SELECT b, a FROM canon " +
      "UNION ALL SELECT node, node FROM nodes), " +
      "l0 AS (SELECT node, node AS label FROM nodes), " +
      "v1 AS (SELECT adj.node, l0.label, count(*) AS c FROM adj " +
      "JOIN l0 ON adj.nbr = l0.node GROUP BY 1, 2), " +
      "l1 AS (SELECT node, label FROM (SELECT node, label, " +
      "row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn " +
      "FROM v1) WHERE rn = 1), " +
      "v2 AS (SELECT adj.node, l1.label, count(*) AS c FROM adj " +
      "JOIN l1 ON adj.nbr = l1.node GROUP BY 1, 2), " +
      "l2 AS (SELECT node, label FROM (SELECT node, label, " +
      "row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn " +
      "FROM v2) WHERE rn = 1), " +
      "v3 AS (SELECT adj.node, l2.label, count(*) AS c FROM adj " +
      "JOIN l2 ON adj.nbr = l2.node GROUP BY 1, 2), " +
      "l3 AS (SELECT node, label FROM (SELECT node, label, " +
      "row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn " +
      "FROM v3) WHERE rn = 1)"

  /** [[LpaCtes]] plus each community's canonical degrees `deg(node, d)`,
    * members `lab(node, community)` and intra-community edge counts
    * `intra(community, ie)` — shared by q_community_stats and
    * q_modularity. Ends with ", " for the caller's next CTE. */
  private val LpaCommunityCtes: String =
    LpaCtes +
      ", deg AS (SELECT node, count(*) AS d FROM " +
      "(SELECT a AS node FROM canon UNION ALL SELECT b FROM canon) GROUP BY 1), " +
      "lab AS (SELECT node, label AS community FROM l3), " +
      "intra AS (SELECT la.community, count(*) AS ie FROM canon " +
      "JOIN lab la ON canon.a = la.node JOIN lab lb ON canon.b = lb.node " +
      "WHERE la.community = lb.community GROUP BY 1), "

  /** SQL replay of [[buildingSeeds]] restricted to nodes with an edge in
    * `e(src, dst)`. */
  private val BuildingSeedsSql: String =
    "seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer " +
      "WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0 " +
      "AND c_custkey * 2 IN (SELECT src FROM e)), "

  /** The walk corpus of the walk replays: every step table `s0..s<length>`
    * as (start, walk, step, node) rows. */
  private def walkRows(length: Int): String =
    (0 to length).map(i =>
      s" SELECT CAST(start AS BIGINT) AS start, CAST(walk AS BIGINT) AS walk, " +
        s"CAST($i AS BIGINT) AS step, CAST(cur AS BIGINT) AS node FROM s$i")
      .mkString(" UNION ALL")

  private def kcoreOracleSql(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e AS (SELECT DISTINCT least(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS a, " +
        "greatest(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "adj AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e), " +
        "alive0 AS (SELECT DISTINCT node FROM adj)")
    for (i <- 1 to iters)
      sb.append(s", d$i AS (SELECT adj.node, count(*) AS c FROM adj " +
        s"JOIN alive${i - 1} x ON adj.node = x.node " +
        s"JOIN alive${i - 1} y ON adj.nbr = y.node GROUP BY 1), " +
        s"alive$i AS (SELECT node FROM d$i WHERE c >= $k)")
    sb.append(s", dfin AS (SELECT adj.node, count(*) AS c FROM adj " +
      s"JOIN alive$iters x ON adj.node = x.node " +
      s"JOIN alive$iters y ON adj.nbr = y.node GROUP BY 1) " +
      s"SELECT CAST(a.node AS BIGINT) AS node, " +
      "CAST(coalesce(d.c, 0) AS BIGINT) AS core_degree " +
      s"FROM alive$iters a LEFT JOIN dfin d ON a.node = d.node")
    sb.toString
  }

  /** Unrolled multi-source BFS replay: the quantity>49 purchase graph
    * symmetrized, sampled BUILDING seeds at distance 0, then `rounds`
    * rounds of "offer dist+1 along out-edges, min-fold with the current
    * table" — exactly [[graft.pipeline.Graph.bfsDistances]]'s one-join +
    * one-min-shuffle shape, idempotent past the fixpoint. */
  private def bfsOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 49), " +
        "e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
        BuildingSeedsSql +
        "d0 AS (SELECT node, 0 AS dist FROM seeds)")
    for (i <- 1 to rounds)
      sb.append(s", d$i AS (SELECT node, min(dist) AS dist FROM (" +
        s"SELECT e.dst AS node, x.dist + 1 AS dist FROM d${i - 1} x " +
        s"JOIN e ON x.node = e.src " +
        s"UNION ALL SELECT node, dist FROM d${i - 1}) GROUP BY 1)")
    sb.append(" SELECT CAST(node AS BIGINT) AS node, " +
      s"CAST(dist AS BIGINT) AS dist FROM d$rounds")
    sb.toString
  }

  /** Unrolled weighted-SSSP replay: the quantity>45 purchase graph with
    * min-folded integer edge costs 51 - quantity, BUILDING seeds at 0,
    * then `rounds` Bellman-Ford relaxations — [[graft.pipeline.Graph
    * .ssspWeighted]]'s one-join + one-min-shuffle step with dist + w in
    * place of the BFS +1. Each round references the previous TWICE
    * (offer + union), so every CTE is MATERIALIZED — plain CTE inlining
    * would expand the chain 2^rounds-fold (the clusters-lineage lesson
    * in DuckDB form). */
  private def ssspOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS MATERIALIZED (SELECT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b, " +
        "min(CAST(51 - l.l_quantity AS BIGINT)) AS w " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45 GROUP BY 1, 2), " +
        "e AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM e0 " +
        "UNION ALL SELECT b, a, w FROM e0), " +
        BuildingSeedsSql +
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds)")
    for (i <- 1 to rounds)
      sb.append(s", d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (" +
        s"SELECT e.dst AS node, x.dist + e.w AS dist FROM d${i - 1} x " +
        s"JOIN e ON x.node = e.src " +
        s"UNION ALL SELECT node, dist FROM d${i - 1}) GROUP BY 1)")
    sb.append(" SELECT CAST(node AS BIGINT) AS node, " +
      s"CAST(dist AS BIGINT) AS dist FROM d$rounds")
    sb.toString
  }

  /** Unrolled temporal-reachability replay: timestamped purchase
    * contacts (epoch-day order dates), BUILDING seeds at arrival 0,
    * then `rounds` eligibility-filtered min-fold rounds — the offer
    * join carries `t >= arrival` so time never runs backward, exactly
    * [[graft.pipeline.Graph.temporalReachability]]'s step. MATERIALIZED
    * per round (the ssspOracleSql lesson). */
  private def temporalOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b, " +
        "CAST(epoch(o.o_orderdate) AS BIGINT) // 86400 AS t " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 47), " +
        "e AS MATERIALIZED (SELECT a AS src, b AS dst, t FROM e0 " +
        "UNION ALL SELECT b, a, t FROM e0), " +
        BuildingSeedsSql +
        "d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS arrival FROM seeds)")
    for (i <- 1 to rounds)
      sb.append(s", d$i AS MATERIALIZED (SELECT node, min(arrival) AS arrival FROM (" +
        s"SELECT e.dst AS node, e.t AS arrival FROM d${i - 1} x " +
        "JOIN e ON x.node = e.src AND e.t >= x.arrival " +
        s"UNION ALL SELECT node, arrival FROM d${i - 1}) GROUP BY 1)")
    sb.append(" SELECT CAST(node AS BIGINT) AS node, " +
      s"CAST(arrival AS BIGINT) AS arrival FROM d$rounds")
    sb.toString
  }

  /** Unrolled min-label connected-components replay: the doubly-thinned
    * purchase graph symmetrized, labels start at the node id, then
    * `rounds` rounds of "offer my label along my edges, min-fold" —
    * [[graft.pipeline.Graph.componentLabels]]'s step verbatim. Each round
    * references the previous twice, so every CTE is MATERIALIZED (the
    * ssspOracleSql lesson). */
  private def componentsOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 49 AND l.l_partkey % 7 = 0), " +
        "e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 " +
        "UNION ALL SELECT b, a FROM e0), " +
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e)")
    for (i <- 1 to rounds)
      sb.append(s", l$i AS MATERIALIZED (SELECT node, min(label) AS label FROM (" +
        s"SELECT e.dst AS node, x.label FROM l${i - 1} x " +
        s"JOIN e ON x.node = e.src " +
        s"UNION ALL SELECT node, label FROM l${i - 1}) GROUP BY 1)")
    sb.append(" SELECT CAST(node AS BIGINT) AS node, " +
      s"CAST(label AS BIGINT) AS component FROM l$rounds")
    sb.toString
  }

  /** Unrolled node2vec replay: the q_random_walks graph CTEs, a uniform
    * first hop (identical pick arithmetic to walksOracleSql, carrying
    * prev out), then per biased step: fan to every neighbor of the
    * frontier, classify return/near/far (near = LEFT JOIN on directed
    * (prev, nbr) membership), id-ordered cumulative weights, and the
    * md5-mod-total interval pick — every step MATERIALIZED. */
  private def node2vecOracleSql(walksPerNode: Int, length: Int,
                                wRet: Int, wFar: Int): String = {
    val walkVals = (0 until walksPerNode).map(w => s"($w)").mkString(", ")
    def hash(i: Int): String =
      "CAST('0x' || substr(md5(CAST(start AS VARCHAR) || ':' || " +
        s"CAST(walk AS VARCHAR) || ':' || '$i' || ':' || " +
        "CAST(cur AS VARCHAR)), 1, 15) AS BIGINT)"
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 " +
        "UNION ALL SELECT b, a FROM e0), " +
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "adj AS MATERIALIZED (SELECT src, dst, row_number() OVER " +
        "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM e), " +
        "starts AS (SELECT DISTINCT src AS node FROM e), " +
        s"w(walk) AS (VALUES $walkVals), " +
        "s0 AS MATERIALIZED (SELECT starts.node AS start, w.walk AS walk, " +
        "starts.node AS cur FROM starts CROSS JOIN w), " +
        "s1 AS MATERIALIZED (SELECT x.start, x.walk, x.cur AS prev, " +
        "adj.dst AS cur " +
        "FROM s0 x JOIN deg ON deg.src = x.cur " +
        s"JOIN adj ON adj.src = x.cur AND adj.idx = ${hash(1)} % deg.outdeg)")
    for (i <- 2 to length)
      sb.append(
        s", f$i AS MATERIALIZED (SELECT x.start, x.walk, x.prev, x.cur, " +
          "e.dst AS nbr, " +
          s"CASE WHEN e.dst = x.prev THEN $wRet " +
          "WHEN m.src IS NOT NULL THEN 1000 " +
          s"ELSE $wFar END AS wgt " +
          s"FROM s${i - 1} x JOIN e ON e.src = x.cur " +
          "LEFT JOIN e m ON m.src = x.prev AND m.dst = e.dst), " +
          s"c$i AS MATERIALIZED (SELECT *, " +
          "sum(wgt) OVER (PARTITION BY start, walk ORDER BY nbr " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
          "sum(wgt) OVER (PARTITION BY start, walk) AS tot " +
          s"FROM f$i), " +
          s"s$i AS MATERIALIZED (SELECT start, walk, cur AS prev, nbr AS cur " +
          s"FROM c$i WHERE ${hash(i)} % tot >= cum - wgt " +
          s"AND ${hash(i)} % tot < cum)")
    sb.append(walkRows(length))
    sb.toString
  }

  /** Unrolled deterministic-walk replay: id-sorted neighbor ranks via
    * row_number, per-step pick = 60-bit md5 prefix mod outdeg — the
    * identical string, hash, and modulus [[graft.pipeline.Graph
    * .randomWalks]] computes, so every hop joins to the same adjacency
    * row in both engines. */
  private def walksOracleSql(walksPerNode: Int, length: Int): String = {
    val walkVals = (0 until walksPerNode).map(w => s"($w)").mkString(", ")
    val sb = new StringBuilder
    sb.append(
      "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS a, " +
        "l.l_suppkey * 2 + 1 AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "adj AS (SELECT src, dst, row_number() OVER " +
        "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM e), " +
        "starts AS (SELECT DISTINCT src AS node FROM e), " +
        s"w(walk) AS (VALUES $walkVals), " +
        "s0 AS (SELECT starts.node AS start, w.walk AS walk, " +
        "starts.node AS cur FROM starts CROSS JOIN w)")
    for (i <- 1 to length)
      sb.append(s", s$i AS (SELECT x.start, x.walk, adj.dst AS cur " +
        s"FROM s${i - 1} x JOIN deg ON deg.src = x.cur " +
        s"JOIN adj ON adj.src = x.cur AND adj.idx = " +
        s"CAST('0x' || substr(md5(CAST(x.start AS VARCHAR) || ':' || " +
        s"CAST(x.walk AS VARCHAR) || ':' || '$i' || ':' || " +
        s"CAST(x.cur AS VARCHAR)), 1, 15) AS BIGINT) % deg.outdeg)")
    sb.append(walkRows(length))
    sb.toString
  }

  val all: Seq[Gate] = Seq(
    // integer-exact PageRank (2 unrolled iterations, damping 850‰, scale
    // 1e6) over the symmetrized customer↔supplier purchase graph; fixed-
    // point arithmetic makes every iteration SQL-replayable bit-for-bit
    Gate("q_pagerank", (s, d) => {
      val e0 = purchaseEdges(s, d).distinct()
      // sym is distinct by construction: e0 is distinct and the swapped
      // orientation is parity-disjoint (src even, dst odd)
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pagerankInt(sym, iters = 2, assumeDistinct = true)
        .select(col("node"), col("rank"))
    },
      "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        "e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes), " +
        "c1 AS (SELECT e.dst AS node, CAST(sum(r0.rank // d.outdeg) AS BIGINT) AS inflow " +
        "FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        "r1 AS (SELECT nodes.node, (150 * 1000000 + 850 * coalesce(c1.inflow, 0)) // 1000 AS rank " +
        "FROM nodes LEFT JOIN c1 USING (node)), " +
        "c2 AS (SELECT e.dst AS node, CAST(sum(r1.rank // d.outdeg) AS BIGINT) AS inflow " +
        "FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        "r2 AS (SELECT nodes.node, (150 * 1000000 + 850 * coalesce(c2.inflow, 0)) // 1000 AS rank " +
        "FROM nodes LEFT JOIN c2 USING (node)) " +
        "SELECT node, rank FROM r2"),

    // per-node triangle counts (local clustering signal) over the brand
    // affinity graph: brands are adjacent iff they co-occur in ≥ 2.2% of
    // orders (integer ratio test, scale-invariant — keeps roughly half
    // of the 300 possible edges at every sf, so counts discriminate);
    // degree-ordered orientation bounds the wedge join at O(m^1.5)
    Gate("q_triangles", (s, d) => {
      val edges = brandAffinityEdges(s, d)
      Graph.triangleCounts(edges)
    },
      // triangle replay: same affinity edges, then every x<y<z with all
      // three canonical edges present, counted per member node
      BrandTriangleCtes + " SELECT node, count(*) AS n_triangles FROM m GROUP BY 1"),

    // local clustering coefficients over the same affinity graph —
    // integer permille 2000·tri div (d·(d−1)), the link-farm/mirror-
    // clique curation signal; degree ≥ 2 nodes only
    Gate("q_clustering_coeff", (s, d) => {
      val edges = brandAffinityEdges(s, d)
      Graph.clusteringCoefficients(edges)
    },
      // same affinity edges + triangle lattice, joined with canonical
      // degrees into the integer-permille coefficient
      BrandTriangleCtes + ", t2 AS (SELECT node, count(*) AS nt FROM m GROUP BY 1), " +
        "dg AS (SELECT node, count(*) AS degree FROM " +
        "(SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1) " +
        "SELECT dg.node, dg.degree, CAST(coalesce(t2.nt, 0) AS BIGINT) AS n_triangles, " +
        "(2000 * CAST(coalesce(t2.nt, 0) AS BIGINT)) // (dg.degree * (dg.degree - 1)) AS coeff_permille " +
        "FROM dg LEFT JOIN t2 USING (node) WHERE dg.degree >= 2"),

    // weighted PageRank over the same purchase graph, edge weight = total
    // quantity traded on the (customer, supplier) pair — flow splits
    // (r·w) div Σw instead of equally; duplicate pair edges sum their
    // weights (the operator's additive-flow aggregate)
    Gate("q_pagerank_weighted", (s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").select(col("l_orderkey"),
        col("l_suppkey"), expr("CAST(l_quantity AS BIGINT)").as("w"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"), col("w"))
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      Graph.pagerankInt(sym, iters = 2, weightCol = Some("w"))
        .select(col("node"), col("rank"))
    },
      // the weighted unroll: per-pair summed quantities, (rank·w) // Σw
      // flow split, same damping blend — every step integer, replayed
      // bit-for-bit like the unweighted gate
      "WITH e0 AS (SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey GROUP BY 1, 2), " +
        "e AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst AS src, src AS dst, w FROM e0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e GROUP BY 1), " +
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes), " +
        "c1 AS (SELECT e.dst AS node, CAST(sum((r0.rank * e.w) // d.wsum) AS BIGINT) AS inflow " +
        "FROM e JOIN r0 ON e.src = r0.node JOIN ws d ON e.src = d.src GROUP BY 1), " +
        "r1 AS (SELECT nodes.node, (150 * 1000000 + 850 * coalesce(c1.inflow, 0)) // 1000 AS rank " +
        "FROM nodes LEFT JOIN c1 USING (node)), " +
        "c2 AS (SELECT e.dst AS node, CAST(sum((r1.rank * e.w) // d.wsum) AS BIGINT) AS inflow " +
        "FROM e JOIN r1 ON e.src = r1.node JOIN ws d ON e.src = d.src GROUP BY 1), " +
        "r2 AS (SELECT nodes.node, (150 * 1000000 + 850 * coalesce(c2.inflow, 0)) // 1000 AS rank " +
        "FROM nodes LEFT JOIN c2 USING (node)) " +
        "SELECT node, rank FROM r2"),

    // personalized (seeded) PageRank over the same purchase graph:
    // teleport mass lands only on BUILDING-segment customer nodes, so
    // ranks measure proximity to that seed neighborhood — the crawl-
    // curation variant ("rank domains near my trusted seeds"); same
    // integer-exact unroll, replayed bit-for-bit by the oracle
    Gate("q_pagerank_seeded", (s, d) => {
      val e0 = purchaseEdges(s, d).distinct()
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select((col("c_custkey") * 2).as("node"))
      Graph.pagerankInt(sym, iters = 2, assumeDistinct = true,
          seeds = Some(seeds))
        .select(col("node"), col("rank"))
    },
      // the personalized unroll: identical to q_pagerank except the seed
      // flag gates BOTH the initial rank (scale·seed) and the teleport base
      // term ((1000−d)·scale·seed) — non-seed nodes start at 0 and receive
      // only damped inflow
      "WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        "e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer " +
        "WHERE c_mktsegment = 'BUILDING'), " +
        "sn AS (SELECT nodes.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS seed " +
        "FROM nodes LEFT JOIN seeds s USING (node)), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "r0 AS (SELECT node, CAST(1000000 * seed AS BIGINT) AS rank FROM sn), " +
        "c1 AS (SELECT e.dst AS node, CAST(sum(r0.rank // d.outdeg) AS BIGINT) AS inflow " +
        "FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        "r1 AS (SELECT sn.node, sn.seed, " +
        "CAST((150 * 1000000 * sn.seed + 850 * coalesce(c1.inflow, 0)) // 1000 AS BIGINT) AS rank " +
        "FROM sn LEFT JOIN c1 USING (node)), " +
        "c2 AS (SELECT e.dst AS node, CAST(sum(r1.rank // d.outdeg) AS BIGINT) AS inflow " +
        "FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON e.src = d.src GROUP BY 1), " +
        "r2 AS (SELECT sn.node, " +
        "CAST((150 * 1000000 * sn.seed + 850 * coalesce(c2.inflow, 0)) // 1000 AS BIGINT) AS rank " +
        "FROM sn LEFT JOIN c2 USING (node)) " +
        "SELECT node, rank FROM r2"),

    // label-propagation communities (deterministic synchronous LPA, 3
    // rounds) over the purchase graph: every node adopts the most
    // frequent label in its closed neighborhood, ties toward the smallest
    // label — the curation complement of dup-clusters (mirror FARMS vs
    // mirror files); the oracle replays each round's vote + argmax
    Gate("q_label_prop", (s, d) => {
      // NO query-side distinct: labelPropagation's canonical pass
      // (canonDeg) distincts the (least, greatest) pairs itself, and the
      // src-even/dst-odd encoding makes that mapping injective — the
      // removed distinct was a second full shuffle of the joined edges
      // for byte-identical results
      val e0 = purchaseEdges(s, d)
      Graph.labelPropagation(e0, iters = 3)
    },
      // synchronous-LPA replay: canonical simple graph, adjacency = both
      // orientations + one self-vote per node; each round counts (node,
      // label) votes and takes the per-node argmax with the (count DESC,
      // label ASC) deterministic tie-break — 3 unrolled rounds
      LpaCtes + " SELECT node, label AS community FROM l3"),

    // per-community structure report over the LPA partition: member
    // count, degree mass, intra-community edges — the ingredients of
    // modularity and the per-cluster density signal a curation rule reads
    Gate("q_community_stats", (s, d) => {
      // no query-side distinct — canonDeg's canonical distinct subsumes
      // it (see q_label_prop)
      val e0 = purchaseEdges(s, d)
      // shared-canonical-pass composite: identical rows to
      // communityStats(e0, labelPropagation(e0, 3)) with the edge join +
      // canonical distinct derived ONCE instead of twice
      Graph.communityStatsLpa(e0, iters = 3)
    },
      // LPA replay + per-community rollup: canonical degrees summed per
      // community, intra edges = canonical edges whose endpoints share a
      // label
      LpaCommunityCtes +
        "st AS (SELECT lab.community, CAST(count(*) AS BIGINT) AS n_nodes, " +
        "CAST(sum(deg.d) AS BIGINT) AS degree_sum " +
        "FROM lab JOIN deg ON lab.node = deg.node GROUP BY 1) " +
        "SELECT st.community, st.n_nodes, st.degree_sum, " +
        "CAST(coalesce(intra.ie, 0) AS BIGINT) AS intra_edges " +
        "FROM st LEFT JOIN intra USING (community)"),

    // Newman-Girvan modularity of that partition, integer permille —
    // 1000·Σ_c(4·m·e_c − D_c²) div (4m²), every term exact; the oracle
    // replicates Spark's truncate-toward-zero div for the (possibly
    // negative) numerator
    Gate("q_modularity", (s, d) => {
      // no query-side distinct — canonDeg's canonical distinct subsumes
      // it (see q_label_prop)
      val e0 = purchaseEdges(s, d)
      // shared-canonical-pass composite (see q_community_stats)
      Graph.modularityPermilleLpa(e0, iters = 3)
    },
      // same lattice folded to the single modularity number; the CASE pair
      // replicates Spark's truncate-toward-zero `div` (DuckDB's // floors,
      // which differs on the negative-numerator side)
      LpaCommunityCtes +
        "st AS (SELECT lab.community, CAST(sum(deg.d) AS BIGINT) AS ds, " +
        "CAST(coalesce(max(intra.ie), 0) AS BIGINT) AS ie " +
        "FROM lab JOIN deg ON lab.node = deg.node " +
        "LEFT JOIN intra ON lab.community = intra.community GROUP BY 1), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM canon), " +
        "num AS (SELECT CAST(coalesce(sum(4 * m.m_edges * st.ie - st.ds * st.ds), 0) AS BIGINT) AS v " +
        "FROM st CROSS JOIN m) " +
        "SELECT m.m_edges, CAST(CASE WHEN m.m_edges = 0 THEN 0 " +
        "WHEN num.v >= 0 THEN (1000 * num.v) // (4 * m.m_edges * m.m_edges) " +
        "ELSE -((-1000 * num.v) // (4 * m.m_edges * m.m_edges)) END AS BIGINT) AS q_permille " +
        "FROM m CROSS JOIN num"),

    // HITS hubs & authorities (2 rounds, max-normalized integer fixed
    // point) over the DIRECTED customer→supplier purchase graph: hubs =
    // buyers whose baskets point at strong suppliers, authorities =
    // suppliers bought by strong buyers — the bipartite complement of the
    // symmetric-PageRank gate; the oracle unrolls both half-steps of both
    // rounds bit-for-bit
    Gate("q_hits", (s, d) => {
      val e0 = purchaseEdges(s, d).distinct()
      Graph.hitsInt(e0, iters = 2, assumeDistinct = true)
    },
      // HITS replay: both half-steps of both rounds unrolled — inflow sum,
      // 1-row max frame, (raw·scale) // max normalize; every value is
      // non-negative so // equals Spark's truncating div throughout
      "WITH e AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS x FROM nodes), " +
        "a1r AS (SELECT e.dst AS node, CAST(sum(h0.x) AS BIGINT) AS raw " +
        "FROM e JOIN h0 ON e.src = h0.node GROUP BY 1), " +
        "a1m AS (SELECT CAST(coalesce(max(raw), 0) AS BIGINT) AS m FROM a1r), " +
        "a1 AS (SELECT nodes.node, CASE WHEN a1m.m = 0 THEN 0 " +
        "ELSE (coalesce(a1r.raw, 0) * 1000000) // a1m.m END AS x " +
        "FROM nodes LEFT JOIN a1r USING (node) CROSS JOIN a1m), " +
        "h1r AS (SELECT e.src AS node, CAST(sum(a1.x) AS BIGINT) AS raw " +
        "FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1), " +
        "h1m AS (SELECT CAST(coalesce(max(raw), 0) AS BIGINT) AS m FROM h1r), " +
        "h1 AS (SELECT nodes.node, CASE WHEN h1m.m = 0 THEN 0 " +
        "ELSE (coalesce(h1r.raw, 0) * 1000000) // h1m.m END AS x " +
        "FROM nodes LEFT JOIN h1r USING (node) CROSS JOIN h1m), " +
        "a2r AS (SELECT e.dst AS node, CAST(sum(h1.x) AS BIGINT) AS raw " +
        "FROM e JOIN h1 ON e.src = h1.node GROUP BY 1), " +
        "a2m AS (SELECT CAST(coalesce(max(raw), 0) AS BIGINT) AS m FROM a2r), " +
        "a2 AS (SELECT nodes.node, CASE WHEN a2m.m = 0 THEN 0 " +
        "ELSE (coalesce(a2r.raw, 0) * 1000000) // a2m.m END AS x " +
        "FROM nodes LEFT JOIN a2r USING (node) CROSS JOIN a2m), " +
        "h2r AS (SELECT e.src AS node, CAST(sum(a2.x) AS BIGINT) AS raw " +
        "FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1), " +
        "h2m AS (SELECT CAST(coalesce(max(raw), 0) AS BIGINT) AS m FROM h2r), " +
        "h2 AS (SELECT nodes.node, CASE WHEN h2m.m = 0 THEN 0 " +
        "ELSE (coalesce(h2r.raw, 0) * 1000000) // h2m.m END AS x " +
        "FROM nodes LEFT JOIN h2r USING (node) CROSS JOIN h2m) " +
        "SELECT nodes.node, CAST(h2.x AS BIGINT) AS hub, CAST(a2.x AS BIGINT) AS auth " +
        "FROM nodes JOIN h2 USING (node) JOIN a2 USING (node)"),

    // k-core peel (Seidman '83) of the THINNED purchase graph (only
    // quantity>45 lines — the full graph is too dense to peel): 4 rounds
    // at k=4, converged by round 2 at both scales (probed in DuckDB;
    // extra rounds are no-ops by alive-set monotonicity), survivors
    // 885/1544 nodes at sf0.01 so both peel outcomes populate richly;
    // the oracle unrolls every round plus the final in-core degree report
    Gate("q_kcore", (s, d) => {
      val e0 = purchaseEdges(s, d, _.filter(col("l_quantity") > 45))
      Graph.kcore(e0, k = 4, iters = 4)
    },
      kcoreOracleSql(k = 4, iters = 4)),

    // multi-source BFS distances (crawl depth / link distance): hops from
    // the sampled BUILDING-customer seed set over the SPARSER quantity>49
    // purchase graph (probed in DuckDB: distances 0..4 all populate AND
    // ~9% of nodes stay unreached at both scales — the >45 graph floods
    // in 2 hops); 4 min-fold rounds are idempotent past the fixpoint, so
    // the unrolled oracle replays them verbatim
    Gate("q_bfs_dist", (s, d) => {
      val e0 = purchaseEdges(s, d, _.filter(col("l_quantity") > 49), "a", "b")
        .distinct()
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      val seeds = buildingSeeds(s, d)
      Graph.bfsDistances(e, seeds, rounds = 4, assumeDistinct = true)
    },
      bfsOracleSql(rounds = 4)),

    // multi-source WEIGHTED shortest paths (distributed Bellman-Ford,
    // min-plus): cheapest total cost from the BUILDING seed set over the
    // quantity>45 purchase graph with edge cost 51 - quantity (1..5,
    // parallel edges min-folded to the cheapest); probed in DuckDB: the
    // (count, Σdist) fixpoint lands at round 4 at ALL THREE scales and
    // rounds are idempotent past it, so the 6-round unroll replays
    // verbatim — distances spread over 10 distinct values 0..9
    Gate("q_sssp", (s, d) => {
      val o = Tables.table(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"),
          (lit(51) - col("l_quantity")).cast("long").as("w"))
        .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      val e = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(e0.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val seeds = buildingSeeds(s, d)
      Graph.ssspWeighted(e, seeds, rounds = 6, assumeMinFolded = true)
    },
      ssspOracleSql(rounds = 6)),

    // temporal (time-respecting) reachability over the quantity>47
    // purchase contacts, timestamped at the order date (epoch day):
    // earliest arrival from the BUILDING seed set via paths of <= 6
    // contacts whose instants never run backward — the information-flow
    // semantic a static reachability overstates; oracle unrolls the six
    // eligibility-filtered min-fold rounds (equality holds at ANY round
    // count since both sides run the identical rounds; the <= 6-contact
    // bound is the documented semantic)
    Gate("q_temporal_reach", (s, d) => {
      val o = Tables.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          // o_orderdate is TIMESTAMP_NTZ; the cast is wall-clock-
          // preserving under the pinned UTC session tz — the same
          // micros DuckDB's epoch() reads (the events-ts contract)
          expr("unix_seconds(CAST(o_orderdate AS TIMESTAMP)) div 86400")
            .as("t"))
      val l = Tables.table(s, d, "lineitem").filter(col("l_quantity") > 47)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"), col("t"))
        .distinct()
      val e = e0.select(col("a").as("src"), col("b").as("dst"), col("t"))
        .union(e0.select(col("b").as("src"), col("a").as("dst"), col("t")))
      val seeds = buildingSeeds(s, d)
      Graph.temporalReachability(e, seeds, rounds = 6, assumeDistinct = true)
    },
      temporalOracleSql(rounds = 6)),

    // weakly connected components by min-label propagation over the
    // doubly-thinned purchase graph (quantity>49 AND partkey%7 — probed:
    // 7/72/730 components at sf0.001/0.01/0.1, fixpoint by round 10 at
    // every scale, so the 12-round unroll replays verbatim); labels ==
    // Dedup.clusters' union-find labeling, spec-pinned
    Gate("q_components", (s, d) => {
      val e = purchaseEdges(s, d, _.filter(col("l_quantity") > 49 && col("l_partkey") % 7 === 0))
      Graph.componentLabels(e, rounds = 12)
    },
      componentsOracleSql(rounds = 12)),

    // CONVERGED-mode components over the same graph: the operator runs
    // until the Σ-label fixpoint check says no label moved (maxRounds a
    // cap, not a schedule), while the oracle stays the fixed 12-round
    // unroll — so the equality cross-engine-checks the CONVERGENCE
    // POLICY itself: a detector that stopped one round early (labels
    // still moving) or a broken stability test would hash-mismatch
    // against the past-fixpoint unroll. The fixed-round twins of every
    // graph gate were oracle-checked before; this is the first end-to-end
    // oracle row for a converged variant
    Gate("q_components_conv", (s, d) => {
      val e = purchaseEdges(s, d, _.filter(col("l_quantity") > 49 && col("l_partkey") % 7 === 0))
      Graph.componentLabelsConverged(e, maxRounds = 50)._1
    },
      // converged gate vs the SAME past-fixpoint unroll: equality holds iff
      // the Σ-label stability check stopped exactly at the true fixpoint
      componentsOracleSql(rounds = 12)),

    // CONVERGED-mode k-core over q_kcore's quantity>45 graph: the
    // operator peels until a round removes nothing (maxIters a cap, not a
    // schedule) while the oracle stays the fixed 4-round unroll —
    // peeling is idempotent past its fixpoint (alive shrinks
    // monotonically; measured depth 2-3 at the gate scales), so equality
    // cross-engine-checks the convergence DETECTOR: stopping one round
    // early (nodes still dying) or a broken no-op test hash-mismatches
    // against the past-fixpoint unroll. Second converged-mode oracle gate
    // after q_components_conv proved the pattern
    Gate("q_kcore_conv", (s, d) => {
      val e0 = purchaseEdges(s, d, _.filter(col("l_quantity") > 45))
      Graph.kcoreConverged(e0, k = 4, maxIters = 50)._1
    },
      // converged twin replays the SAME past-fixpoint unroll (peel depth
      // 2-3 at gate scales, idempotence makes rounds 3-4 no-ops): matching
      // it proves the operator's no-op detector stopped at the true core
      kcoreOracleSql(k = 4, iters = 4)),

    // degree-distribution profile of the directed quantity>45 purchase
    // graph: per-direction log2 buckets (bit length) with exact min/max —
    // the graph-profiling pass that sizes every hub cap; output bounded
    // by 64 buckets per direction at any corpus size
    Gate("q_degree_dist", (s, d) => {
      val e = purchaseEdges(s, d, _.filter(col("l_quantity") > 45))
      Graph.degreeHistogram(e)
    },
      // same distinct edge set, same bit-length bucketing (bin() agrees
      // across engines on positive BIGINTs — the length-histogram idiom)
      "WITH e AS (SELECT DISTINCT o.o_custkey * 2 AS src, " +
        "l.l_suppkey * 2 + 1 AS dst " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "degs AS (SELECT 'out' AS direction, src AS node, count(*) AS deg FROM e GROUP BY 1, 2 " +
        "UNION ALL SELECT 'in' AS direction, dst AS node, count(*) AS deg FROM e GROUP BY 1, 2) " +
        "SELECT direction, CAST(length(bin(deg)) AS BIGINT) AS bucket, " +
        "count(*) AS n_nodes, CAST(min(deg) AS BIGINT) AS min_degree, " +
        "CAST(max(deg) AS BIGINT) AS max_degree " +
        "FROM degs GROUP BY 1, 2"),

    // common-neighbor link-prediction scores: node pairs of the
    // symmetrized quantity>45 purchase graph sharing >= 3 neighbors —
    // on this bipartite graph that IS co-engagement similarity
    // (customers sharing suppliers / suppliers sharing customers);
    // probed in DuckDB: 1126/3303/1281 pairs with n_common spreads of
    // 20/11/5 distinct values at sf0.001/0.01/0.1
    Gate("q_common_nbrs", (s, d) => {
      val e0 = purchaseEdges(s, d, _.filter(col("l_quantity") > 45))
      Graph.commonNeighbors(e0, minCommon = 3)
    },
      // wedge enumeration grouped by endpoints over the canonical simple
      // graph — the open complement of the triangle oracle's closure
      "WITH e0 AS (SELECT DISTINCT least(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS a, " +
        "greatest(o.o_custkey * 2, l.l_suppkey * 2 + 1) AS b " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
        "WHERE l.l_quantity > 45), " +
        "adj AS (SELECT a AS apex, b AS nbr FROM e0 UNION ALL SELECT b, a FROM e0), " +
        "dg AS (SELECT apex, count(*) AS d FROM adj GROUP BY 1), " +
        "w AS (SELECT x.nbr AS p, y.nbr AS q, " +
        "1000 // CAST(length(bin(dg.d)) - 1 AS BIGINT) AS aw FROM adj x " +
        "JOIN adj y ON x.apex = y.apex AND x.nbr < y.nbr " +
        "JOIN dg ON dg.apex = x.apex), " +
        "cn AS (SELECT p, q, count(*) AS n, sum(aw) AS aa FROM w GROUP BY 1, 2) " +
        "SELECT CAST(p AS BIGINT) AS a, CAST(q AS BIGINT) AS b, " +
        "CAST(n AS BIGINT) AS n_common, CAST(aa AS BIGINT) AS aa_permille, " +
        "CAST((1000 * n) // (da.d + db.d - n) AS BIGINT) AS jaccard_permille " +
        "FROM cn JOIN dg da ON da.apex = cn.p JOIN dg db ON db.apex = cn.q " +
        "WHERE n >= 3"),

    // deterministic random walks (DeepWalk corpus prep): 2 walks of 3
    // steps from every node of the symmetrized quantity>45 purchase
    // graph; each step's neighbor pick is md5(start:walk:step:cur) mod
    // outdeg over id-sorted neighbors, so the whole walk corpus replays
    // verbatim in SQL — the node-embedding training-data primitive
    Gate("q_random_walks", (s, d) => {
      val e0 = purchaseEdges(s, d, _.filter(col("l_quantity") > 45), "a", "b")
        .distinct()
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      Graph.randomWalks(e, walksPerNode = 2, length = 3,
        assumeDistinct = true)
    },
      walksOracleSql(walksPerNode = 2, length = 3)),

    // node2vec biased walks (Grover & Leskovec '16): the same graph and
    // determinism contract as q_random_walks, but steps >= 2 weight each
    // neighbor by return/near/far class (500/1000/250 permille — a
    // p=2, q=4 bias) and pick by cumulative-weight interval — the whole
    // biased trajectory is still a pure function of the edge list, so
    // the oracle replays every classification, cumsum, and pick
    Gate("q_node2vec", (s, d) => {
      val e0 = purchaseEdges(s, d, _.filter(col("l_quantity") > 45), "a", "b")
        .distinct()
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
      Graph.node2vecWalks(e, walksPerNode = 2, length = 3,
        returnPermille = 500, farPermille = 250, assumeDistinct = true)
    },
      node2vecOracleSql(walksPerNode = 2, length = 3,
      wRet = 500, wFar = 250))
  )
}
