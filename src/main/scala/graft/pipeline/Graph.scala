package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlFunctions

/**
 * Distributed graph analytics over edge DataFrames.
 *
 * Companion to the connected-component labeling in
 * [[graft.pipeline.Dedup]] (dup-cluster labeling): where clusters answer
 * "which nodes are the same", PageRank answers "which nodes matter" —
 * the standard centrality pass over provenance/link graphs when weighting
 * crawl domains for a training mix (Page et al. '99).
 *
 * Arithmetic is INTEGER-exact (fixed-point ranks, integer division for
 * both the per-edge contribution and the damping blend), so a SQL oracle
 * replays every iteration bit-for-bit and results are independent of
 * partitioning and summation order.
 *
 * Small graphs run the round-based operators on the driver. The min-fold
 * family (components and its converged twin, BFS, weighted SSSP,
 * temporal reach) and the LPA family (labelPropagation,
 * communityStatsLpa, modularityPermilleLpa) each first
 * materialize a cleaned edge table: `e` in their setup, or the
 * canonical pairs for LPA. The gate counts that table right there. At
 * most [[DriverPath.DriverMaxEdges]] (2M) rows are collected and the
 * rounds run in primitive arrays ([[DriverPath.MinFold]],
 * [[DriverPath.Lpa]]), one job each for the count and the collect
 * instead of several per round. The results match the distributed
 * rounds exactly: fixed rounds stay fixed, the converged twin stops and
 * throws at the same round, and long overflow throws as ANSI SQL does.
 * Larger tables run the distributed rounds over the same materialized
 * table. There is no option for this; tests reach the distributed rounds
 * through the `private[pipeline]` overloads that take the budget first.
 */
object Graph {

  /** Broadcast budget (rows) for the n-sized PER-ROUND tables of the
    * iterative operators (PageRank ranks, LPA labels, HITS scores): when
    * the node count is at or under this, each round joins the evolving
    * small table into the loop-invariant edge table as a BROADCAST hash
    * join instead of a sort-merge join. Measured at sf0.1 (r14): the
    * checkpoint-backed invariants scan as `ExistingRDD` with
    * `UnknownPartitioning`, so WITHOUT the broadcast every iteration
    * re-exchanged AND re-sorted the multi-million-row edge table under a
    * SortMergeJoin — the dominant per-round cost. 8M (node, long) rows
    * ≈ 130 MB data / a few hundred MB built — the same budget as
    * [[Dedup]]'s labelBroadcastMaxEntries; graphs above it keep the
    * shuffle plans (the 100 TB giant-graph posture, where no n-sized
    * table fits a broadcast). */
  private[pipeline] val nodeBroadcastMaxEntries: Long = 8000000L

  /** Conditionally broadcast an n-sized per-round table. */
  private def bc(df: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(df) else df

  /** Materialize a loop-INVARIANT table pre-partitioned by `key` in a way
    * the SQL planner can SEE. `Checkpoints.materialize` scans back as
    * `ExistingRDD` with `UnknownPartitioning(0)`, so a pre-checkpoint
    * `repartition(key)` was invisible to EnsureRequirements and every
    * iteration re-exchanged the invariant anyway (measured in the r14
    * before-plans: q_pagerank 14 Exchanges / 8 SortMergeJoins for 2
    * iterations). A persisted InMemoryRelation DOES preserve its child's
    * outputPartitioning (AQE does not re-plan cached plans by default —
    * spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false), so
    * downstream groupBy/join keyed on `key` skips its exchange. Local
    * (checkpointDir = None) only: with a reliable checkpoint dir the
    * fault-tolerance contract wins and the table is checkpointed as
    * before (lineage of an invariant is one derivation deep, so the
    * persist path does not risk the plan-doubling the per-ROUND
    * checkpoints guard against). Storage level matches Checkpoints
    * (MEMORY_AND_DISK_SER — the r13 sf100 lesson). Eagerly materialized:
    * callers release upstream caches right after. */
  private def invariant(df: DataFrame, key: String,
                        checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(_) =>
        Checkpoints.materialize(df.repartition(col(key)), checkpointDir)
      case None =>
        val p = df.repartition(col(key))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        p.count()
        p
    }

  /** Loop-invariant tables of the PageRank rounds: distinct nodes
    * (carrying a 0/1 `seed` teleport flag — all-1 when unseeded), the edge
    * list joined with out-degrees (or out-weight totals), the
    * dangling-node set (no out-edges), the node and seed counts, whether
    * edges carry weights, and whether the per-round rank table fits the
    * broadcast budget. */
  private case class PrGraph(nodes: DataFrame, edgeDeg: DataFrame,
                             dangling: DataFrame, nNodes: Long,
                             nSeeds: Long, weighted: Boolean,
                             bcast: Boolean)

  private def prepare(edges: DataFrame, assumeDistinct: Boolean,
                      redistributeDangling: Boolean,
                      checkpointDir: Option[String],
                      weightCol: Option[String] = None,
                      seeds: Option[DataFrame] = None): PrGraph = {
    // null endpoints carry no edge semantics and would otherwise drop out
    // of the contribution join but still mint a phantom node row; in
    // weighted mode a null/non-positive weight likewise carries no flow
    val base = edges.filter(col("src").isNotNull && col("dst").isNotNull)
    val e = weightCol match {
      case Some(w) =>
        // filter on the CAST value, not the source column: a fractional
        // weight in (0, 1) passes `col(w) > 0` but truncates to 0 on the
        // long cast, minting a zero-weight edge whose owner gets wsum = 0
        // (ANSI DIVIDE_BY_ZERO in the flow split) while wrongly counting
        // as non-dangling — post-cast filtering drops it like any other
        // non-positive weight
        val cast = base
          .select(col("src").cast("long").as("src"),
            col("dst").cast("long").as("dst"),
            col(w).cast("long").as("w"))
          .filter(col("w").isNotNull && col("w") > 0)
        // duplicate (src, dst) edges carry ADDITIVE flow in weighted
        // mode — sum them (assumeDistinct skips the aggregate when the
        // caller pre-aggregated)
        if (assumeDistinct) cast
        else cast.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      case None =>
        val cast = base.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        // `assumeDistinct` skips the dedup shuffle when the caller's edge
        // list is distinct by construction (e.g. a symmetrized union of
        // disjoint orientations) — on the sf0.1 purchase-graph gate that
        // is a full extra pass over 1.17M edges
        if (assumeDistinct) cast else cast.distinct()
    }
    // materialize the loop-invariant tables once: every iteration's lineage
    // references edgeDeg and nodes, so without this the upstream edge
    // derivation (often a join) re-executes per iteration.
    // `e` itself is CACHED first (not checkpointed): four subplans consume
    // it (both nodeIds branches, deg, edgeDeg), and column pruning
    // specializes them enough that ReuseExchange misses — measured at
    // sf100 (600 M-row lineitem → 1.1 B-edge purchase graph) the
    // un-truncated edge derivation re-ran its join+distinct per consumer
    // and the accumulated shuffle files alone exhausted the probe host's
    // disk before the first iteration. A columnar cache (compressed,
    // ~3-4× smaller on disk than checkpoint blocks) is the right vehicle
    // because `e` is DEAD once the invariants exist: it is unpersisted
    // (blocking, so the scratch space is back before the iterations
    // start) right after edgeDeg materializes — a checkpoint would pin
    // those blocks for the whole query. Lineage truncation isn't needed
    // here (one derivation level); the loop-facing tables below stay
    // checkpointed so iteration plans remain constant-size. DISK_ONLY, not
    // MEMORY_AND_DISK: at 1.1 B edges the in-memory columnar build competes
    // with 32 concurrent join/aggregate tasks for the unified pool
    // (measured: heap OOM at 48 g) — the cache is read exactly three more
    // times sequentially, so streaming compressed batches off local disk
    // costs little and leaves the whole pool to execution.
    val eM = e.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nodeIds = eM.select(col("src").as("node"))
      .union(eM.select(col("dst").as("node"))).distinct()
    // personalized mode: nodes carry a 0/1 teleport flag — seeds outside
    // the graph's node set are ignored (they have no edges to rank over);
    // unseeded runs get seed = 1 everywhere, which makes every seeded
    // formula below collapse to the uniform-teleport original
    val nodes = Checkpoints.materialize(
      seeds match {
        case Some(s) =>
          val sd = s.select(col("node").cast("long").as("node"))
            .filter(col("node").isNotNull).distinct()
            .withColumn("__is_seed", lit(1L))
          nodeIds.join(sd, Seq("node"), "left")
            .select(col("node"), coalesce(col("__is_seed"), lit(0L)).as("seed"))
        case None => nodeIds.withColumn("seed", lit(1L))
      },
      checkpointDir)
    val deg = weightCol match {
      case Some(_) => eM.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
      case None => eM.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    }
    // node count: one cheap aggregate over the just-checkpointed n-sized
    // table — it decides the per-round join strategy (broadcast the rank
    // table when n fits the budget; see [[nodeBroadcastMaxEntries]]) and
    // doubles as the dangling-redistribution count
    val n = nodes.count()
    val bcast = n <= nodeBroadcastMaxEntries
    // loop-invariant edge table, pre-partitioned where each iteration
    // NEEDS it and in a way the planner can see ([[invariant]]):
    //  - broadcast mode: ranks broadcast into the contribution join
    //    (map-side), so the winning layout is `dst` — the per-round
    //    inflow aggregation then runs exchange-free on the preserved
    //    partitioning;
    //  - shuffle mode (giant graphs): the contribution join itself keys
    //    on `src`, so that exchange is the one to pre-pay
    val edgeDeg = invariant(
      eM.join(deg, "src"), if (bcast) "dst" else "src", checkpointDir)
    // every eM consumer (nodes, deg→edgeDeg) has materialized by here —
    // release the edge cache NOW (blocking) so the iterations inherit its
    // scratch space; dangling/counts below read only materialized tables
    eM.unpersist(blocking = true)
    // dangling = nodes with no out-edge; only materialized when
    // redistribution needs it
    val dangling =
      if (!redistributeDangling) nodes.limit(0)
      else Checkpoints.materialize(
        nodes.join(edgeDeg.select(col("src").as("node")).distinct(),
          Seq("node"), "left_anti"),
        checkpointDir)
    // dangling mass teleports to the SEED set (uniformly among seeds) in
    // personalized mode — unseeded, nSeeds = nNodes and the share is the
    // original dm div n to every node
    val nSeeds =
      if (!redistributeDangling) 0L
      else if (seeds.isEmpty) n
      else {
        val k = nodes.filter(col("seed") === 1L).count()
        require(k > 0, "personalized PageRank with redistributeDangling " +
          "needs ≥ 1 seed inside the graph's node set")
        k
      }
    PrGraph(nodes, edgeDeg, dangling, n, nSeeds, weightCol.isDefined, bcast)
  }

  /** One PageRank step: contribution join on `src`, ONE inflow shuffle by
    * `dst`, node-side left join keeping inflow-less nodes; optionally adds
    * the per-SEED share of the dangling mass (a broadcast 1-row frame) to
    * seed nodes' inflow before damping (unseeded: every node is a seed, so
    * this is the uniform share). Weighted graphs contribute
    * `(rank · w) div Σw` per edge instead of the equal split; the teleport
    * base term `(1000−d)·scale` lands only on seed nodes. */
  private def step(g: PrGraph, ranks: DataFrame, dampingPermille: Int,
                   scale: Long, redistributeDangling: Boolean): DataFrame = {
    val contrib =
      if (g.weighted) expr("(rank * w) div wsum") else expr("rank div outdeg")
    // g.bcast: the n-sized rank table broadcasts into the contribution
    // join (no exchange/sort of the edge invariant, which is laid out by
    // `dst` so the inflow aggregate below also runs exchange-free); the
    // node-side left join likewise streams `nodes` against the broadcast
    // n-sized inflow. Giant graphs (n over budget) keep the shuffle plan.
    val inflow = g.edgeDeg
      .join(bc(ranks.withColumnRenamed("node", "src"), g.bcast), "src")
      .select(col("dst"), contrib.as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
    val withDangling = if (redistributeDangling) {
      // Σ rank over dangling nodes, shared equally among the nSeeds seed
      // nodes: each seed receives dm div nSeeds extra inflow (integer
      // division; the ≤ nSeeds−1 remainder is dropped — bounded,
      // documented leakage, same as the damping blend's own div
      // truncation). The 1-row mass frame broadcasts.
      val dm = ranks.join(g.dangling.select("node"), "node")
        .agg(coalesce(sum(col("rank")), lit(0L)).as("__dm"))
      g.nodes
        .join(bc(inflow.withColumnRenamed("dst", "node"), g.bcast),
          Seq("node"), "left")
        .crossJoin(broadcast(dm))
        .select(col("node"), col("seed"),
          (coalesce(col("inflow"), lit(0L)) +
            expr(s"(__dm div ${g.nSeeds}L) * seed")).as("inflow"))
    } else {
      g.nodes.join(bc(inflow.withColumnRenamed("dst", "node"), g.bcast),
        Seq("node"), "left")
    }
    withDangling.select(col("node"), expr(
      s"((${1000 - dampingPermille} * ${scale}L * seed) + " +
        s"$dampingPermille * coalesce(inflow, 0L)) div 1000").as("rank"))
  }

  /**
   * Fixed-point PageRank over a directed edge list (`src`, `dst` long
   * columns; duplicate edges are collapsed unless `assumeDistinct` asserts
   * the caller already did — results assume a simple graph either way).
   *
   * r_0(v) = scale;
   * r_{t+1}(v) = ((1000-d)·scale + d·(Σ_{(u,v)∈E} (r_t(u) div outdeg(u)) + D_t)) div 1000
   * with d = `dampingPermille` and D_t the dangling term: 0 by default
   * (dangling mass DROPPED, the common simplification — feed a symmetrized
   * edge list if every node must conserve mass, as the gate does), or the
   * equal per-node share `(Σ_{outdeg(u)=0} r_t(u)) div n` when
   * `redistributeDangling` is set (the Page et al. teleport-style
   * correction; integer remainder < n is dropped per round).
   *
   * Per iteration: the contribution join is keyed on `src` against the
   * once-computed out-degree table, then ONE shuffle aggregates inflow by
   * `dst`; the node-side left join keeps rank rows for inflow-less nodes.
   * The logical plan grows linearly in `iters` (no self-join doubling —
   * cf. the clusters() lineage lesson), and long iteration chains are
   * checkpointed every 8 rounds to keep plan size constant.
   *
   * `checkpointDir`: None (default) materializes loop invariants and
   * round checkpoints with `localCheckpoint` — right for local[*], NOT
   * fault-tolerant (executor loss kills the run). Pass the cluster's
   * reliable checkpoint directory for the 100 TB posture; see
   * [[Checkpoints.materialize]].
   *
   * Overflow headroom: Σ inflow ≤ n·scale, so d·Σ stays under 2^63 for
   * n·scale < 9.2e18/1000 — at the default scale 1e6 that is ~9e9 nodes.
   */
  /** With `weightCol` set, edges carry integer weights: node u sends
    * `(r(u)·w(u,v)) div Σ_x w(u,x)` to v (the weighted-PageRank flow
    * split); duplicate (src, dst) edges SUM their weights (additive flow)
    * unless `assumeDistinct` says the caller pre-aggregated; null or
    * non-positive weights drop the edge. Weight-1 edges reproduce the
    * unweighted results bit-for-bit (w=1 ⇒ Σw = outdeg). Overflow
    * headroom shifts to r·w < 2⁶³ — keep weights unit-scaled, not milli,
    * when ranks can concentrate. */
  /** With `seeds` set (a single `node` column), PageRank is PERSONALIZED
    * (Page et al. '99 §6; Haveliwala '02 topic-sensitive): the teleport
    * term `(1000−d)·scale` lands only on seed nodes, the initial rank is
    * `scale` on seeds and 0 elsewhere, and — under `redistributeDangling`
    * — dangling mass returns uniformly to the SEED set rather than to all
    * nodes. Non-seed ranks then measure proximity to the seed
    * neighborhood: the crawl-curation variant ("rank domains near my
    * trusted seeds"). Seeds outside the graph's node set are ignored;
    * `seeds = all nodes` reproduces standard PageRank bit-for-bit (spec-
    * pinned). Composes with `weightCol`. */
  def pagerankInt(edges: DataFrame, iters: Int, dampingPermille: Int = 850,
                  scale: Long = 1000000L,
                  assumeDistinct: Boolean = false,
                  redistributeDangling: Boolean = false,
                  checkpointDir: Option[String] = None,
                  weightCol: Option[String] = None,
                  seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampingPermille >= 0 && dampingPermille <= 1000,
      s"dampingPermille must be in [0,1000], got $dampingPermille")
    val g = prepare(edges, assumeDistinct, redistributeDangling,
      checkpointDir, weightCol, seeds)
    var ranks = g.nodes.select(col("node"),
      expr(s"${scale}L * seed").as("rank"))
    for (i <- 1 to iters) {
      ranks = step(g, ranks, dampingPermille, scale, redistributeDangling)
      if (i % 8 == 0 && i < iters)
        ranks = Checkpoints.materialize(ranks, checkpointDir)
    }
    ranks
  }

  /**
   * Per-node triangle counts over an undirected simple graph (edges in
   * either orientation; duplicates and self-loops collapse/drop) — the
   * local clustering signal link-graph curation thresholds on (a crawl
   * domain whose neighborhood closes no triangles is a link farm's
   * signature, and n_triangles is the numerator of the local clustering
   * coefficient).
   *
   * Algorithm: the classic degree-ordered orientation (Schank-Wagner) —
   * rank nodes by (degree, id), orient every edge low→high rank, and
   * enumerate each wedge only at its minimum-rank apex. Each triangle is
   * found exactly once, and the wedge self-join is bounded by
   * Σ outdeg² = O(m^{3/2}) on ANY graph (an oriented out-degree never
   * exceeds √(2m)) — the bound that keeps hub-dominated webgraphs
   * feasible where the naive wedge count Σ deg² explodes.
   *
   * Plan: canonical-edge distinct, a broadcast-size degree table joined
   * twice, ONE wedge self-join keyed on the apex, one closure semi-join
   * keyed on the (v1, v2) pair, one explode+count. Equality joins only.
   *
   * Output: (node, n_triangles) for every node in ≥ 1 triangle.
   */
  /** Shared canonical simple-graph pass for the triangle family: distinct
    * low-high edge pairs (duplicates/orientations collapse, self-loops
    * drop) plus the per-node degree table derived from them. `canon` is
    * eagerly materialized ([[Checkpoints.materialize]]) because every
    * caller feeds it to ≥ 2 consumers (degrees + the orientation join,
    * and in [[clusteringCoefficients]] also the coefficient denominator)
    * — column pruning specializes the subplans and defeats ReuseExchange,
    * so without truncation the raw edge list is re-scanned per consumer. */
  private def canonDeg(edges: DataFrame, checkpointDir: Option[String])
      : (DataFrame, DataFrame) = {
    val canon = canonical(edges, checkpointDir)
    (canon, degrees(canon, checkpointDir))
  }

  /** The (a, b) half of [[canonDeg]], materialized. */
  private def canonical(edges: DataFrame,
                        checkpointDir: Option[String]): DataFrame =
    Checkpoints.materialize(
      edges.filter(col("src").isNotNull && col("dst").isNotNull)
        .select(
          least(col("src").cast("long"), col("dst").cast("long")).as("a"),
          greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
        .filter(col("a") < col("b"))
        .distinct(),
      checkpointDir)

  /** The (n, d) degree half of [[canonDeg]]: deg is n-sized and consumed
    * 2-3× by every caller (orientation joins, LPA self-loops, stats
    * rollups, coefficient denominators) — each consumer otherwise re-runs
    * the explode+aggregate over the canon blocks; materialized it is also
    * the free node COUNT the broadcast budget check reads. */
  private def degrees(canon: DataFrame,
                      checkpointDir: Option[String]): DataFrame =
    Checkpoints.materialize(
      canon.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d")),
      checkpointDir)

  def triangleCounts(edges: DataFrame,
                     checkpointDir: Option[String] = None): DataFrame = {
    val (canon, deg) = canonDeg(edges, checkpointDir)
    triangleCountsFrom(canon, deg, checkpointDir)
  }

  /** Triangle counting proper, over a pre-canonicalized (canon, deg) pair
    * from [[canonDeg]] — split out so [[clusteringCoefficients]] shares
    * ONE canonical pass instead of re-deriving it. */
  private def triangleCountsFrom(canon: DataFrame, deg: DataFrame,
                                 checkpointDir: Option[String]): DataFrame = {
    // orient low→high (degree, id) rank; keep the canonical pair around.
    // Laid out by the wedge apex `u` ([[invariant]], planner-visible) so
    // the wedge self-join below is co-partitioned — no exchange of either
    // side (r14; the checkpointed form re-exchanged both)
    val oriented = invariant(
      canon
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b")).as("u"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("b"))
            .otherwise(col("a")).as("v"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("db"))
            .otherwise(col("da")).as("dv")),
      "u", checkpointDir)
    // wedges at the apex u, both spokes oriented out of u; order the two
    // endpoints by the SAME (degree, id) rank so the closing edge — also
    // oriented by rank — matches (v1, v2) directly
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = e1.join(e2, "u")
      .filter(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v1") < col("v2")))
    val tris = wedges.join(
      oriented.select(col("u").as("v1"), col("v").as("v2")),
      Seq("v1", "v2"), "left_semi")
    tris.select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** The synchronous LPA vote table of the distributed rounds: adjacency
    * = both orientations of the canonical simple graph PLUS a self-loop
    * per node (the node's own current label votes — the standard damping
    * that keeps bipartite structures from oscillating forever),
    * materialized once since every round joins it. */
  /** lpaAdjacency from a pre-computed [[canonDeg]] pair — split out so the
    * stats/modularity composites run ONE canonical pass for both the LPA
    * rounds and the per-community rollup instead of re-deriving the edge
    * source per operator (measured: the orders⋈lineitem edge join plus the
    * canonical distinct executed twice per composite gate). */
  private def lpaAdjacencyFrom(canon: DataFrame, deg: DataFrame,
                               checkpointDir: Option[String],
                               bcast: Boolean): DataFrame =
    // pre-partitioned ([[invariant]] — planner-visible) by the key each
    // round actually needs: with broadcast labels the vote join is
    // map-side, so `node` lets BOTH per-round aggregates (the (node,
    // label) vote count and the per-node argmax) run exchange-free on the
    // preserved partitioning — a round is then one broadcast build plus
    // one pass over the cached adjacency, zero edge-sized exchanges;
    // without the broadcast (giant graphs) the per-round join keys on
    // `nbr`, so that is the exchange to pre-pay
    invariant(
      canon.select(col("a").as("node"), col("b").as("nbr"))
        .union(canon.select(col("b").as("node"), col("a").as("nbr")))
        .union(deg.select(col("n").as("node"), col("n").as("nbr"))),
      if (bcast) "node" else "nbr", checkpointDir)

  /** The fixed-round LPA loop over a prepared adjacency — shared by
    * [[labelPropagation]] and the shared-canonical-pass composites. */
  private def runLpa(adj: DataFrame, iters: Int,
                     checkpointDir: Option[String], bcast: Boolean): DataFrame = {
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node"))
    for (i <- 1 to iters) {
      labels = lpaStep(adj, labels, bcast)
      if (i % 8 == 0 && i < iters)
        labels = Checkpoints.materialize(labels, checkpointDir)
    }
    labels
  }

  /** One synchronous LPA round: every node adopts the label occurring most
    * often among its neighbors and itself, ties broken toward the SMALLEST
    * label — fully deterministic (no random visit order), so the result is
    * partition-invariant and a SQL oracle replays it round by round. The
    * per-node argmax is max(struct(c, -label)) — an ordinary partially-
    * aggregated hash aggregate, so each round's second shuffle carries at
    * most one row per (partition, node) and nothing is SORTED (the window
    * form paid an extra sort per round: the three LPA gates measured
    * 20.9 s → 12.3 s at sf0.1, n=3 medians). Negating the label turns the
    * min-label tie-break into plain struct max for ANY label sign
    * (max −label ≡ min label); only Long.MinValue would overflow, and
    * labels are node ids, which the data model keeps far from it. */
  private def lpaStep(adj: DataFrame, labels: DataFrame,
                      bcast: Boolean): DataFrame = {
    val votes = adj
      .join(bc(labels.withColumnRenamed("node", "nbr"), bcast), "nbr")
      .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
    votes
      .groupBy(col("node"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("node"), (-col("m.nl")).as("label"))
  }

  /** The LPA operators' shared canonical pass, behind the driver-path
    * gate: a canonical edge table of at most `budget` rows is collected
    * into the driver kernel and freed (Right); a larger one gets its
    * degree table, the broadcast decision and the vote adjacency (Left). */
  private def lpaInput(edges: DataFrame, budget: Long,
                       checkpointDir: Option[String])
      : Either[LpaGraph, DriverPath.Lpa] = {
    val canon = canonical(edges, checkpointDir)
    DriverPath.collectUnder(canon, budget) match {
      case Right(cols) =>
        DriverPath.release(canon)
        Right(new DriverPath.Lpa(cols(0), cols(1),
          new DriverPath.SqlLong(edges.sparkSession)))
      case Left(_) =>
        val deg = degrees(canon, checkpointDir)
        val bcast = deg.count() <= nodeBroadcastMaxEntries
        Left(LpaGraph(canon, deg, bcast,
          lpaAdjacencyFrom(canon, deg, checkpointDir, bcast)))
    }
  }

  /** The distributed LPA invariants: [[canonDeg]]'s pair, the broadcast
    * decision and the vote adjacency. */
  private case class LpaGraph(canon: DataFrame, deg: DataFrame,
                              bcast: Boolean, adj: DataFrame)

  /** (node, community) after `iters` distributed rounds. */
  private def lpaCommunities(g: LpaGraph, iters: Int,
                             checkpointDir: Option[String]): DataFrame =
    runLpa(g.adj, iters, checkpointDir, g.bcast)
      .select(col("node"), col("label").as("community"))

  /**
   * Label-propagation community detection (Raghavan et al. '07), the
   * deterministic SYNCHRONOUS variant: labels start as the node ids, and
   * each round every node adopts the most frequent label in its closed
   * neighborhood (neighbors + itself), ties toward the smallest label.
   * Runs exactly `iters` rounds — the oracle-replayable form; communities
   * are the curation complement of [[Dedup.clusters]] (dup clusters find
   * "same content", communities find "same neighborhood" — mirror FARMS
   * vs mirror files in a crawl graph).
   *
   * Self-loops in the input drop and duplicate/bidirectional edges
   * collapse (the [[canonDeg]] canonical pass — shared, single edge-list
   * scan); the self-VOTE is added back explicitly, once per node, as the
   * oscillation damper. Each round is one adjacency join + one (node,
   * label) count shuffle + one per-node window; rounds are checkpointed
   * every 8 to keep plan growth linear (the clusters() lineage lesson).
   * A canonical edge table of at most [[DriverPath.DriverMaxEdges]] rows
   * runs its rounds on the driver instead.
   *
   * Output: (node, community) — community = the final label.
   */
  def labelPropagation(edges: DataFrame, iters: Int,
                       checkpointDir: Option[String] = None): DataFrame =
    labelPropagation(DriverPath.DriverMaxEdges, edges, iters, checkpointDir)

  /** [[labelPropagation]] with the driver path's row `budget` (a
    * negative one forces the distributed rounds). */
  private[pipeline] def labelPropagation(budget: Long, edges: DataFrame,
                                         iters: Int,
                                         checkpointDir: Option[String]): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    lpaInput(edges, budget, checkpointDir) match {
      case Right(k) =>
        for (_ <- 1 to iters) k.round()
        DriverPath.frame(edges.sparkSession, Seq("node", "community"), k.labels)
      case Left(g) => lpaCommunities(g, iters, checkpointDir)
    }
  }

  /** `communityStats(edges, labelPropagation(edges, iters))` with ONE
    * canonical pass: the naive composition re-derives the edge source and
    * the canonical distinct once for the LPA adjacency and once for the
    * stats rollup — here a single [[canonDeg]] feeds both (exact same
    * rows by construction; the gate's oracle hash is unchanged). On the
    * driver path the rollup runs on the driver too. */
  def communityStatsLpa(edges: DataFrame, iters: Int,
                        checkpointDir: Option[String] = None): DataFrame =
    communityStatsLpa(DriverPath.DriverMaxEdges, edges, iters, checkpointDir)

  /** [[communityStatsLpa]] with the driver path's row `budget`. */
  private[pipeline] def communityStatsLpa(budget: Long, edges: DataFrame,
                                          iters: Int,
                                          checkpointDir: Option[String]): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    lpaInput(edges, budget, checkpointDir) match {
      case Right(k) =>
        for (_ <- 1 to iters) k.round()
        DriverPath.frame(edges.sparkSession,
          Seq("community", "n_nodes", "degree_sum", "intra_edges"),
          k.communityStats)
      case Left(g) =>
        communityStatsFrom(g.canon, g.deg, lpaCommunities(g, iters, checkpointDir),
          checkpointDir, g.bcast)
    }
  }

  /** `modularityPermille(edges, labelPropagation(edges, iters))` with ONE
    * canonical pass — the [[communityStatsLpa]] sharing applied to the
    * modularity composite. */
  def modularityPermilleLpa(edges: DataFrame, iters: Int,
                            checkpointDir: Option[String] = None): DataFrame =
    modularityPermilleLpa(DriverPath.DriverMaxEdges, edges, iters, checkpointDir)

  /** [[modularityPermilleLpa]] with the driver path's row `budget`. */
  private[pipeline] def modularityPermilleLpa(budget: Long, edges: DataFrame,
                                              iters: Int,
                                              checkpointDir: Option[String])
      : DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    lpaInput(edges, budget, checkpointDir) match {
      case Right(k) =>
        for (_ <- 1 to iters) k.round()
        DriverPath.frame(edges.sparkSession, Seq("m_edges", "q_permille"),
          k.modularity)
      case Left(g) =>
        modularityFrom(g.canon, g.deg, lpaCommunities(g, iters, checkpointDir),
          checkpointDir, g.bcast)
    }
  }

  /**
   * Per-community structure stats over the canonical simple graph:
   * member count, total degree mass, and INTRA-community edge count —
   * the ingredients of the Newman-Girvan modularity and the per-cluster
   * report a curation pass reads ("is this community a dense mirror farm
   * or a loose topical neighborhood"). Nodes missing from `communities`
   * are dropped (their edges contribute degree but no membership);
   * communities are typically [[labelPropagation]] output.
   *
   * Plan: one shared canonical pass ([[canonDeg]]), the label table
   * joined onto each edge endpoint (two equality joins), one count per
   * community — all shuffles keyed on node or community.
   *
   * Output: (community, n_nodes, degree_sum, intra_edges).
   */
  def communityStats(edges: DataFrame, communities: DataFrame,
                     checkpointDir: Option[String] = None): DataFrame = {
    val (canon, deg) = canonDeg(edges, checkpointDir)
    val bcast = deg.count() <= nodeBroadcastMaxEntries
    communityStatsFrom(canon, deg, communities, checkpointDir, bcast)
  }

  private def communityStatsFrom(canon: DataFrame, deg: DataFrame,
                                 communities: DataFrame,
                                 checkpointDir: Option[String],
                                 bcast: Boolean): DataFrame = {
    val lab = Checkpoints.materialize(
      communities.select(col("node").cast("long").as("node"),
        col("community").cast("long").as("community"))
        .filter(col("node").isNotNull && col("community").isNotNull),
      checkpointDir)
    // lab is ≤ n rows: under the broadcast budget it streams canon/deg
    // through two map-side joins instead of exchanging+sorting the edge
    // table twice (same budget and rationale as the per-round tables)
    val intra = canon
      .join(bc(lab.select(col("node").as("a"), col("community").as("ca")),
        bcast), "a")
      .join(bc(lab.select(col("node").as("b"), col("community").as("cb")),
        bcast), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    deg.join(bc(lab, bcast), deg("n") === lab("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("degree_sum"))
      .join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"), col("degree_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"))
  }

  /**
   * Newman-Girvan modularity of a community partition, integer permille:
   * Q = Σ_c [ e_c/m − (D_c/2m)² ] over the canonical simple graph, which
   * clears denominators to the single integer division
   * `Q_permille = 1000 · Σ_c (4·m·e_c − D_c²) div (4·m²)` — every term
   * exact, so the SQL oracle replays it bit-for-bit. Q ∈ (−500, 1000]
   * permille; higher = denser-than-chance communities (a near-zero Q for
   * an LPA partition says the graph has no real community structure —
   * the signal that stops a curation rule from acting on noise).
   *
   * Overflow headroom: 4·m·e_c ≤ 4m² < 2⁶³ needs m < 1.5e9 canonical
   * edges per run — partition larger graphs or rescale first.
   *
   * Output: one row (m_edges, q_permille).
   */
  def modularityPermille(edges: DataFrame, communities: DataFrame,
                         checkpointDir: Option[String] = None): DataFrame = {
    // ONE canonical pass feeds the stats AND the edge count
    val (canon, deg) = canonDeg(edges, checkpointDir)
    val bcast = deg.count() <= nodeBroadcastMaxEntries
    modularityFrom(canon, deg, communities, checkpointDir, bcast)
  }

  private def modularityFrom(canon: DataFrame, deg: DataFrame,
                             communities: DataFrame,
                             checkpointDir: Option[String],
                             bcast: Boolean): DataFrame = {
    val stats = communityStatsFrom(canon, deg, communities, checkpointDir,
      bcast)
    val m = canon.agg(count(lit(1)).as("m_edges"))
    val num = stats.crossJoin(broadcast(m))
      .agg(coalesce(sum(
        expr("4 * m_edges * intra_edges - degree_sum * degree_sum")),
        lit(0L)).as("__num"))
    // the 1-row m frame rides along so an empty partition (or empty
    // graph) yields (0, 0) instead of a division fault
    m.crossJoin(broadcast(num))
      .select(col("m_edges"),
        when(col("m_edges") === 0L, lit(0L))
          .otherwise(expr("1000 * __num div (4 * m_edges * m_edges)"))
          .as("q_permille"))
  }

  /**
   * Local clustering coefficient, integer permille:
   * `2000·tri(v) div (d(v)·(d(v)−1))` over the canonical simple graph —
   * the per-node "how closed is this neighborhood" ratio whose LOW
   * values flag link farms (many neighbors, no closure) and whose HIGH
   * values flag mirror cliques. Nodes with degree < 2 have no defined
   * coefficient and are omitted; triangle-free nodes of degree ≥ 2
   * report 0. Degrees and triangles both come from the same canonical
   * edge set (duplicates/orientations collapse, self-loops drop), so
   * the ratio is consistent by construction; [[canonDeg]] supplies ONE
   * shared canonical pass (materialized) feeding both the coefficient
   * denominator and the triangle numerator — the raw edge list is
   * scanned once, not re-derived per consumer.
   *
   * Output: (node, degree, n_triangles, coeff_permille).
   */
  /**
   * Fixed-point HITS hubs & authorities (Kleinberg '99) over a DIRECTED
   * edge list — the complement of PageRank on bipartite-flavored link
   * graphs: authorities are pointed-to quality, hubs are good pointers
   * (on a crawl graph: directories/aggregators vs content pages; on a
   * purchase graph: buyers vs suppliers).
   *
   * Iteration t (h_0 = `scale` everywhere):
   *   a_t(v) = max-normalized Σ_{(u,v)∈E} h_{t−1}(u)
   *   h_t(u) = max-normalized Σ_{(u,v)∈E} a_t(v)
   * with max-normalization x ← (x · scale) div max(x) — the integer-exact
   * stand-in for Kleinberg's L2 norm (any per-round rescale yields the
   * same fixed direction; max keeps the top score at exactly `scale`).
   * Every step is integer division, so a SQL oracle unrolls the rounds
   * bit-for-bit and results are partition/summation-order independent.
   *
   * Per half-step: ONE contribution join + ONE inflow shuffle (same shape
   * as [[pagerankInt]]'s step), plus a 1-row max frame that broadcasts
   * into the normalize projection. Nodes with no in-edges hold authority
   * 0, no out-edges hub 0 (left joins keep their rows). Long chains
   * checkpoint every 2 rounds (the lineage lesson — and HITS compounds
   * twice per round, so the pagerank cadence of 8 is too lax here).
   *
   * Overflow headroom: raw ≤ n·scale and the normalize multiplies by
   * `scale`, so n·scale² < 2⁶³ — at the default scale 1e6 that is ~9.2e6
   * nodes; drop `scale` to 1e4 for ~9e10-node graphs (precision trades at
   * 1/scale per round).
   *
   * Output: (node, hub, auth) for every node of the graph.
   */
  def hitsInt(edges: DataFrame, iters: Int, scale: Long = 1000000L,
              assumeDistinct: Boolean = false,
              checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1L, s"scale must be >= 1, got $scale")
    val cast = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
    // invariant layout by `dst`: the auth half-step's inflow aggregate
    // (the first and heavier of each round's two) runs exchange-free on
    // the preserved partitioning once the score table broadcasts; the hub
    // half-step pays one partial-aggregated exchange (see [[invariant]])
    val e = invariant(
      if (assumeDistinct) cast else cast.distinct(), "dst", checkpointDir)
    val nodes = Checkpoints.materialize(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(),
      checkpointDir)
    val bcast = nodes.count() <= nodeBroadcastMaxEntries
    var hubs = nodes.select(col("node"), lit(scale).as("hub"))
    var auths = nodes.select(col("node"), lit(0L).as("auth"))
    for (i <- 1 to iters) {
      auths = hitsHalfStep(nodes, e.select(col("src").as("__from"),
        col("dst").as("__to")), hubs.withColumnRenamed("hub", "__x"),
        scale, "auth", bcast)
      hubs = hitsHalfStep(nodes, e.select(col("dst").as("__from"),
        col("src").as("__to")), auths.withColumnRenamed("auth", "__x"),
        scale, "hub", bcast)
      // Cadence 2, NOT pagerank's 8: each half-step references its input
      // twice (the raw-sum feeds both the max frame and the normalize
      // join), so an un-checkpointed round QUADRUPLES the tree-expanded
      // plan — 4^8 at cadence 8 OOMs the optimizer; 4^2 = 16x is safe.
      // (An r13-optimization experiment materialized every half-step's
      // raw-sum instead — plan-optimal, but the 8 extra checkpoint jobs
      // measured q_hits 2.4 s → 4.2 s warm at sf0.1: per-job overhead
      // beats the duplicated small joins at bench scale. Reverted.)
      if (i % 2 == 0 && i < iters) {
        auths = Checkpoints.materialize(auths, checkpointDir)
        hubs = Checkpoints.materialize(hubs, checkpointDir)
      }
    }
    nodes.join(bc(hubs, bcast), "node").join(bc(auths, bcast), "node")
      .select(col("node"), col("hub"), col("auth"))
  }

  /** One HITS half-step: sum `__x` scores over edges (__from carries the
    * score, __to receives), then max-normalize to `scale` via a broadcast
    * 1-row max frame; inflow-less nodes read 0. The empty-sum guard
    * (max = 0) keeps an edgeless graph at all-zero instead of faulting.
    * `bcast` broadcasts the n-sized score/raw tables (budget-gated by the
    * caller) so the edge invariant is never exchanged or sorted. */
  private def hitsHalfStep(nodes: DataFrame, edges: DataFrame,
                           scores: DataFrame, scale: Long,
                           outName: String, bcast: Boolean): DataFrame = {
    val raw = edges.join(bc(scores.withColumnRenamed("node", "__from"), bcast),
        "__from")
      .groupBy(col("__to").as("node")).agg(sum(col("__x")).as("__raw"))
    val mx = raw.agg(coalesce(max(col("__raw")), lit(0L)).as("__mx"))
    nodes.join(bc(raw, bcast), Seq("node"), "left")
      .crossJoin(broadcast(mx))
      .select(col("node"),
        when(col("__mx") === 0L, lit(0L))
          .otherwise(expr(s"(coalesce(__raw, 0L) * ${scale}L) div __mx"))
          .as(outName))
  }

  def clusteringCoefficients(edges: DataFrame,
                             checkpointDir: Option[String] = None): DataFrame = {
    val (canon, degND) = canonDeg(edges, checkpointDir)
    val deg = degND.select(col("n").as("node"), col("d").as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triangleCountsFrom(canon, degND, checkpointDir), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("2000 * coalesce(n_triangles, 0L) div (degree * (degree - 1))")
          .as("coeff_permille"))
  }

  /** Both-orientation adjacency of the canonical simple graph (self-loops
    * dropped, duplicate/bidirectional edges collapsed), materialized once —
    * every peel round re-joins it. Laid out by `node` ([[invariant]]) so
    * the per-round degree aggregate runs exchange-free when the alive set
    * broadcasts; also returns the node count for the broadcast budget. */
  private def kcoreAdjacency(edges: DataFrame,
                             checkpointDir: Option[String])
      : (DataFrame, Boolean) = {
    val (canon, deg) = canonDeg(edges, checkpointDir)
    val bcast = deg.count() <= nodeBroadcastMaxEntries
    (invariant(
      canon.select(col("a").as("node"), col("b").as("nbr"))
        .union(canon.select(col("b").as("node"), col("a").as("nbr"))),
      "node", checkpointDir), bcast)
  }

  /** Degrees restricted to the alive subgraph: adjacency rows whose BOTH
    * endpoints survive (two semi-joins — the n-sized alive set broadcasts
    * under the budget, so the adjacency invariant is never exchanged or
    * sorted), then one count shuffle by node (exchange-free on the
    * adjacency's preserved `node` layout in broadcast mode). Alive nodes
    * with zero alive neighbors emit no row — callers that need them (the
    * final report) left-join and coalesce to 0. */
  private def aliveDegrees(adj: DataFrame, alive: DataFrame,
                           bcast: Boolean): DataFrame =
    adj.join(bc(alive, bcast), Seq("node"), "left_semi")
      .join(bc(alive.withColumnRenamed("node", "nbr"), bcast),
        Seq("nbr"), "left_semi")
      .groupBy(col("node")).agg(count(lit(1)).as("c"))

  /** The shared peel loop: `iters` rounds of "drop every node with < k
    * alive-subgraph degree", then the (node, core_degree) report over the
    * survivors. The alive set feeds two semi-joins per round (plan doubles
    * per round — the lineage lesson at k-core's own rate), so rounds
    * checkpoint every 4; the final set is materialized because the report
    * references it three more times. */
  private def peel(adj: DataFrame, k: Int, iters: Int,
                   checkpointDir: Option[String], bcast: Boolean): DataFrame = {
    var alive = adj.select(col("node")).distinct()
    for (i <- 1 to iters) {
      alive = aliveDegrees(adj, alive, bcast).filter(col("c") >= k).select("node")
      // broadcast mode materializes every round — alive is referenced
      // TWICE per round (both semi-joins) and broadcast exchanges of the
      // renamed copy are never reused, so a lazy cadence compounds
      // broadcast builds exponentially (the componentLabels lesson, r14)
      if (bcast || (i % 4 == 0 && i < iters))
        alive = Checkpoints.materialize(alive, checkpointDir)
    }
    kcoreReport(adj,
      if (bcast) alive else Checkpoints.materialize(alive, checkpointDir),
      bcast)
  }

  private def kcoreReport(adj: DataFrame, alive: DataFrame,
                          bcast: Boolean): DataFrame =
    alive.join(aliveDegrees(adj, alive, bcast), Seq("node"), "left")
      .select(col("node"), coalesce(col("c"), lit(0L)).as("core_degree"))

  /**
   * k-core peeling (Seidman '83) over the canonical simple UNDIRECTED
   * graph: run exactly `iters` rounds of "remove every node whose degree
   * among still-alive nodes is < k" — the crawl-curation filter that
   * strips tendrils and leaf-level link spam while keeping the dense
   * center (the vertical density complement of [[labelPropagation]]'s
   * horizontal partition). Fixed rounds are the oracle-replayable form,
   * and peeling is IDEMPOTENT past its fixpoint (alive_{t+1} ⊆ alive_t,
   * and a no-op round stays a no-op), so any `iters` ≥ the graph's peel
   * depth returns the true k-core; [[kcoreConverged]] finds the depth.
   *
   * Per round: two semi-joins of the once-materialized adjacency against
   * the alive set + ONE degree-count shuffle — no row ever carries more
   * than (node, nbr), so a 100 TB link graph peels at edge-list scan
   * cost per round. Rounds checkpoint every 4 (the alive plan doubles
   * per round — each round references alive twice).
   *
   * Output: (node, core_degree) for surviving nodes; core_degree is the
   * degree WITHIN the surviving subgraph (≥ k once converged).
   */
  def kcore(edges: DataFrame, k: Int, iters: Int,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (adj, bcast) = kcoreAdjacency(edges, checkpointDir)
    peel(adj, k, iters, checkpointDir, bcast)
  }

  /**
   * Convergence-mode k-core: peel until a round removes nothing, capped
   * at `maxIters` rounds; throws if the cap passes first (same policy as
   * [[componentLabelsConverged]] and [[Dedup.clusters]] — an unconverged
   * core returned silently would defeat the ≥-k contract).
   * Termination is guaranteed in ≤ n rounds since alive only shrinks;
   * the change check is a count comparison (monotone shrinkage makes
   * count equality set equality). Returns (report, peel rounds run, the
   * last being the confirming no-op).
   */
  def kcoreConverged(edges: DataFrame, k: Int, maxIters: Int = 50,
                     checkpointDir: Option[String] = None)
      : (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val (adj, bcast) = kcoreAdjacency(edges, checkpointDir)
    var alive = Checkpoints.materialize(
      adj.select(col("node")).distinct(), checkpointDir)
    var n = alive.count()
    var iter = 0
    var changed = true
    while (changed && iter < maxIters) {
      val next = Checkpoints.materialize(
        aliveDegrees(adj, alive, bcast).filter(col("c") >= k).select("node"),
        checkpointDir)
      val m = next.count()
      changed = m != n
      alive = next; n = m; iter += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"kcoreConverged: still peeling after $maxIters rounds — raise " +
          "maxIters")
    (kcoreReport(adj, alive, bcast), iter)
  }

  // ------------------------------------------------- min-fold operators

  /** One min-fold operator, ready to run on either path: `e`, the
    * materialized cleaned edge table (`src`, `dst` and, for SSSP and
    * temporal reach, the payload column third); the round-0 table — the
    * `seeds` inside the node set at `start`, or with `seeds` None every
    * node at its own id; the value column and its output name; the
    * distributed round; and the driver round's offer and admission rule
    * ([[DriverPath.MinFold]]). */
  private final case class MinFold(e: DataFrame, seeds: Option[DataFrame],
                                   start: Long, value: String, out: String,
                                   step: (DataFrame, DataFrame) => DataFrame,
                                   offer: (Long, Long) => Long,
                                   admits: (Long, Long) => Boolean = (_, _) => true)

  /** The distributed round-0 table, materialized. Seeds outside the
    * node set have no edges to propagate over and are ignored. */
  private def round0(mf: MinFold, checkpointDir: Option[String]): DataFrame =
    Checkpoints.materialize(
      mf.seeds match {
        case Some(s) =>
          s.select(col("node").cast("long").as("node"))
            .filter(col("node").isNotNull).distinct()
            .join(mf.e.select(col("src").as("node"))
              .union(mf.e.select(col("dst").as("node"))).distinct(),
              Seq("node"), "left_semi")
            .withColumn(mf.value, lit(mf.start))
        case None => mf.e.select(col("src").as("node")).distinct()
          .withColumn(mf.value, col("node"))
      },
      checkpointDir)

  /** The driver kernel for `mf` when `e` and the non-null seed rows each
    * have at most `budget` rows: both are collected (the kernel drops
    * seeds outside the node set), then `e` is freed. None otherwise. */
  private def minFoldDriver(mf: MinFold, budget: Long): Option[DriverPath.MinFold] =
    for {
      cols <- DriverPath.collectUnder(mf.e, budget).toOption
      init <- mf.seeds match {
        case Some(s) =>
          DriverPath.collectUnder(s.select(col("node").cast("long"))
            .filter(col("node").isNotNull), budget).toOption
            .map(_(0).distinct.toSeq.map(_ -> mf.start))
        case None => Some(cols(0).distinct.toSeq.map(x => x -> x))
      }
    } yield {
      DriverPath.release(mf.e)
      new DriverPath.MinFold(cols(0), cols(1),
        if (cols.length > 2) cols(2) else null, init, mf.offer, mf.admits)
    }

  /** Exactly `rounds` rounds of `mf`. The distributed plan references
    * the value table twice per round (offer + union), so it checkpoints
    * every 4 rounds — the k-core doubling rate. */
  private def minFoldFixed(mf: MinFold, rounds: Int, budget: Long,
                           checkpointDir: Option[String]): DataFrame =
    minFoldDriver(mf, budget) match {
      case Some(k) =>
        for (_ <- 1 to rounds) k.round()
        DriverPath.frame(mf.e.sparkSession, Seq("node", mf.out), k.result)
      case None =>
        var cur = round0(mf, checkpointDir)
        for (i <- 1 to rounds) {
          cur = mf.step(mf.e, cur)
          if (i % 4 == 0 && i < rounds)
            cur = Checkpoints.materialize(cur, checkpointDir)
        }
        cur.select(col("node"), col(mf.value).as(mf.out))
    }

  /** Rounds of `mf` until one changes nothing, capped at `maxRounds`;
    * throws "`stall` after `maxRounds` rounds" past the cap. The change
    * check is (row count, Σ value) equality: reached-set growth raises the
    * count, any improvement strictly lowers the sum, and min-folding
    * never raises one, so the pair is stable iff the table is. Each
    * distributed round is materialized. Returns (table, rounds run — the
    * last being the confirming no-op). */
  private def minFoldConverged(mf: MinFold, maxRounds: Int, budget: Long,
                               checkpointDir: Option[String],
                               stall: String): (DataFrame, Int) = {
    val spark = mf.e.sparkSession
    val (result, (iter, changed)) = minFoldDriver(mf, budget) match {
      case Some(k) =>
        val ops = new DriverPath.SqlLong(spark)
        val run = converge(k.signature(ops), maxRounds) { () =>
          k.round(); k.signature(ops)
        }
        (DriverPath.frame(spark, Seq("node", mf.out), k.result), run)
      case None =>
        def signature(t: DataFrame) =
          t.agg(count(lit(1)), coalesce(sum(col(mf.value)), lit(0L))).head()
        var cur = round0(mf, checkpointDir)
        val run = converge(signature(cur), maxRounds) { () =>
          cur = Checkpoints.materialize(mf.step(mf.e, cur), checkpointDir)
          signature(cur)
        }
        (cur.select(col("node"), col(mf.value).as(mf.out)), run)
    }
    if (changed)
      throw new IllegalStateException(
        s"$stall after $maxRounds rounds — raise maxRounds")
    (result, iter)
  }

  /** Runs `round` (which returns the new stopping signature) until the
    * signature repeats or `maxRounds` rounds ran; returns (rounds run,
    * whether the last round still changed it). */
  private def converge[S](initial: S, maxRounds: Int)(round: () => S): (Int, Boolean) = {
    var state = initial
    var iter = 0
    var changed = true
    while (changed && iter < maxRounds) {
      val next = round()
      changed = next != state
      state = next
      iter += 1
    }
    (iter, changed)
  }

  // ------------------------------------------------------ BFS distances

  /** Shared BFS setup: the distinct null-free long edge list (the
    * loop-invariant table every round joins — materialized once), seeded
    * at distance 0 (seeds outside the node set are ignored, mirroring
    * [[pagerankInt]]'s seeded contract — they have no edges to measure
    * distance over). `assumeDistinct` skips the dedup shuffle when the
    * caller's edge list is distinct by construction (e.g. a symmetrized
    * union of disjoint orientations). */
  private def bfsSetup(edges: DataFrame, seeds: DataFrame,
                       assumeDistinct: Boolean,
                       checkpointDir: Option[String]): MinFold = {
    val cast = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
    // NOT pre-partitioned by the round join key (unlike [[ccSetup]] /
    // [[prepare]]): the BFS/SSSP gate graphs are selective filters whose
    // per-round joins broadcast or AQE-coalesce at bench scale, so the
    // extra up-front exchange measured as a pure loss (q_sssp 1.7 → 3.2 s)
    val e = Checkpoints.materialize(
      if (assumeDistinct) cast else cast.distinct(), checkpointDir)
    val ops = new DriverPath.SqlLong(edges.sparkSession)
    MinFold(e, Some(seeds), 0L, "dist", "dist", bfsStep,
      (d, _) => ops.add(d, 1L))
  }

  /** One propagation round: every reached node offers dist+1 along its
    * out-edges; the offer stream unions with the current table and
    * min-folds per node — ONE join keyed on the current node + ONE min
    * shuffle, rows never wider than (node, dist). */
  private def bfsStep(e: DataFrame, dist: DataFrame): DataFrame =
    dist.select(col("node").as("src"), col("dist"))
      .join(e, "src")
      .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      .union(dist)
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))

  /**
   * Multi-source BFS distances: minimum hop count from any seed along
   * DIRECTED src→dst edges (union both orientations for undirected
   * distance). The crawl-depth / link-distance primitive: "how far is
   * every page from the trusted seed set" feeds crawl frontier budgeting
   * and TrustRank-style curation cuts the same way [[pagerankInt]]'s
   * seeded mode feeds importance weighting.
   *
   * Runs exactly `rounds` propagation rounds. Distances min-fold, so
   * rounds are IDEMPOTENT past the fixpoint (a no-op round stays a no-op)
   * and any `rounds` ≥ the true seed eccentricity returns exact
   * distances — the oracle-replayable form, like [[kcore]]. Nodes
   * unreachable within `rounds` emit NO row. Seeds outside the graph's
   * node set are ignored.
   *
   * The dist plan references itself twice per round (offer + union), so
   * rounds checkpoint every 4 — the k-core doubling rate. At 100 TB each
   * round costs one edge-list scan keyed on the frontier; rows never
   * carry more than (node, dist). A cleaned edge list of at most
   * [[DriverPath.DriverMaxEdges]] rows runs its rounds on the driver.
   */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, rounds: Int,
                   assumeDistinct: Boolean = false,
                   checkpointDir: Option[String] = None): DataFrame =
    bfsDistances(DriverPath.DriverMaxEdges, edges, seeds, rounds,
      assumeDistinct, checkpointDir)

  /** [[bfsDistances]] with the driver path's row `budget` (a negative
    * one forces the distributed rounds). */
  private[pipeline] def bfsDistances(budget: Long, edges: DataFrame,
                                     seeds: DataFrame, rounds: Int,
                                     assumeDistinct: Boolean,
                                     checkpointDir: Option[String]): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    minFoldFixed(bfsSetup(edges, seeds, assumeDistinct, checkpointDir),
      rounds, budget, checkpointDir)
  }

  // -------------------------------------------- weighted shortest paths

  /** Loop invariants for the min-plus rounds: cast endpoints/weight to
    * long, drop null endpoints, drop null/non-positive weights ON THE
    * CAST VALUE (the [[prepare]] lesson: a fractional weight in (0, 1)
    * passes a pre-cast `> 0` check but truncates to 0), min-fold parallel
    * (src, dst) edges to the CHEAPEST weight — the min-plus semiring's
    * parallel-composition rule, unlike PageRank's additive flow — and
    * seed distances at 0 for seeds inside the node set. */
  private def ssspSetup(edges: DataFrame, seeds: DataFrame,
                        weightCol: String, assumeMinFolded: Boolean,
                        checkpointDir: Option[String]): MinFold = {
    val cast = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w").isNotNull && col("w") >= 1)
    val e = Checkpoints.materialize(
      if (assumeMinFolded) cast
      else cast.groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")),
      checkpointDir)
    val ops = new DriverPath.SqlLong(edges.sparkSession)
    MinFold(e, Some(seeds), 0L, "dist", "dist", ssspStep,
      (d, w) => ops.add(d, w))
  }

  /** One Bellman-Ford relaxation round: every reached node offers
    * dist + w along its out-edges; the offer stream unions with the
    * current table and min-folds per node — the [[bfsDistances]] step
    * with the edge weight in place of the +1 hop. ONE join keyed on the
    * current node + ONE min shuffle; rows never wider than (node, dist). */
  private def ssspStep(e: DataFrame, dist: DataFrame): DataFrame =
    dist.select(col("node").as("src"), col("dist"))
      .join(e, "src")
      .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      .union(dist)
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))

  /**
   * Multi-source WEIGHTED shortest-path distances (distributed
   * Bellman-Ford over the min-plus semiring): minimum total edge weight
   * from any seed along DIRECTED src→dst edges. The cost-aware sibling of
   * [[bfsDistances]] — crawl-frontier budgeting where hops are not
   * equal (fetch latency, link trust cost), or cheapest-route lookups
   * over any integer-weighted relation.
   *
   * Weights must be POSITIVE integers: null/non-positive weights drop at
   * entry (checked on the cast value), parallel (src, dst) edges min-fold
   * to the cheapest (set `assumeMinFolded` when the caller already
   * aggregated — skips one shuffle). Positivity plus min-folding make
   * rounds monotone and IDEMPOTENT past the fixpoint, so any `rounds` ≥
   * the longest optimal path's HOP count returns exact distances — the
   * oracle-replayable form ([[kcore]]/[[bfsDistances]] pattern); note a
   * weighted optimum can use MORE hops than the BFS depth (a long cheap
   * detour beats a short expensive hop), so probe the hop bound, not the
   * unweighted eccentricity. Nodes unreachable within `rounds` emit NO
   * row; seeds outside the node set are ignored; distance sums fault
   * loudly on long overflow under ANSI rather than wrapping.
   *
   * The dist plan references itself twice per round (offer + union), so
   * rounds checkpoint every 4 — the BFS doubling rate. At 100 TB each
   * round costs one edge-list scan keyed on the frontier; rows never
   * carry more than (node, dist), and the weight rides the materialized
   * edge table, never the shuffle stream. A cleaned edge list of at most
   * [[DriverPath.DriverMaxEdges]] rows runs its rounds on the driver.
   */
  def ssspWeighted(edges: DataFrame, seeds: DataFrame, rounds: Int,
                   weightCol: String = "w",
                   assumeMinFolded: Boolean = false,
                   checkpointDir: Option[String] = None): DataFrame =
    ssspWeighted(DriverPath.DriverMaxEdges, edges, seeds, rounds, weightCol,
      assumeMinFolded, checkpointDir)

  /** [[ssspWeighted]] with the driver path's row `budget`. */
  private[pipeline] def ssspWeighted(budget: Long, edges: DataFrame,
                                     seeds: DataFrame, rounds: Int,
                                     weightCol: String, assumeMinFolded: Boolean,
                                     checkpointDir: Option[String]): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    minFoldFixed(
      ssspSetup(edges, seeds, weightCol, assumeMinFolded, checkpointDir),
      rounds, budget, checkpointDir)
  }

  // -------------------------------------------- temporal reachability

  private def temporalSetup(edges: DataFrame, seeds: DataFrame,
                            timeCol: String, startTime: Long, strict: Boolean,
                            assumeDistinct: Boolean,
                            checkpointDir: Option[String]): MinFold = {
    val cast = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col(timeCol).cast("long").as("t"))
      .filter(col("t").isNotNull)
    val e = Checkpoints.materialize(
      if (assumeDistinct) cast else cast.distinct(), checkpointDir)
    MinFold(e, Some(seeds), startTime, "arrival", "arrival",
      temporalStep(_, _, strict), (_, t) => t,
      if (strict) (arrival, t) => t > arrival else (arrival, t) => t >= arrival)
  }

  /** One earliest-arrival round: every reached node offers each outgoing
    * CONTACT whose instant respects its own arrival (t ≥ arrival, or
    * strictly > in strict mode); the offer's value is the contact
    * instant; offers union the current table and min-fold — the
    * [[ssspWeighted]] step with an eligibility filter inside the join. */
  private def temporalStep(e: DataFrame, arr: DataFrame,
                           strict: Boolean): DataFrame = {
    val joined = arr.select(col("node").as("src"), col("arrival"))
      .join(e, "src")
    val eligible =
      if (strict) joined.filter(col("t") > col("arrival"))
      else joined.filter(col("t") >= col("arrival"))
    eligible.select(col("dst").as("node"), col("t").as("arrival"))
      .union(arr)
      .groupBy(col("node")).agg(min(col("arrival")).as("arrival"))
  }

  /**
   * Temporal (time-respecting) reachability — earliest arrival from a
   * seed set over TIMESTAMPED contacts (Holme & Saramäki, Physics
   * Reports '12): an edge (u → v, t) can carry the spread only if u was
   * reached by time t, and then v is reached AT t. The
   * information-flow / contagion primitive a static reachability gets
   * WRONG: a path whose edges run backward in time transmits nothing,
   * so temporal reach ⊆ static reach (spec-pinned). `strict` requires
   * t > arrival (no same-instant relay chains).
   *
   * Runs exactly `rounds` min-fold rounds = earliest arrival via
   * time-respecting paths of ≤ `rounds` CONTACTS ("reachable within k
   * interactions" — itself the quantity of interest on contact
   * networks). Arrival values live in the finite edge-time lattice and
   * min-folding is monotone, so rounds are idempotent past the fixpoint
   * and any `rounds` ≥ the longest minimal time-respecting path's hop
   * count returns the exact fixpoint. Seeds start at `startTime`
   * (contacts before it are ignored for them). Nodes unreachable within
   * `rounds` emit no row.
   *
   * Per round: ONE join keyed on the current node with the eligibility
   * predicate evaluated inside it + ONE min shuffle; rows never wider
   * than (node, arrival); contacts ride the materialized edge table. A
   * cleaned contact list of at most [[DriverPath.DriverMaxEdges]] rows
   * runs its rounds on the driver.
   */
  def temporalReachability(edges: DataFrame, seeds: DataFrame, rounds: Int,
                           timeCol: String = "t", startTime: Long = 0L,
                           strict: Boolean = false,
                           assumeDistinct: Boolean = false,
                           checkpointDir: Option[String] = None): DataFrame =
    temporalReachability(DriverPath.DriverMaxEdges, edges, seeds, rounds,
      timeCol, startTime, strict, assumeDistinct, checkpointDir)

  /** [[temporalReachability]] with the driver path's row `budget`. */
  private[pipeline] def temporalReachability(budget: Long, edges: DataFrame,
                                             seeds: DataFrame, rounds: Int,
                                             timeCol: String, startTime: Long,
                                             strict: Boolean,
                                             assumeDistinct: Boolean,
                                             checkpointDir: Option[String])
      : DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    minFoldFixed(
      temporalSetup(edges, seeds, timeCol, startTime, strict, assumeDistinct,
        checkpointDir),
      rounds, budget, checkpointDir)
  }

  // ---------------------------------------------- connected components

  private def ccSetup(edges: DataFrame, assumeDistinct: Boolean,
                      checkpointDir: Option[String]): MinFold = {
    val cast = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
    // components are an UNDIRECTED notion — symmetrize, so directed input
    // yields weakly connected components (assumeDistinct promises the
    // symmetrized union is duplicate-free, e.g. parity-disjoint encodings)
    val sym = cast.union(cast.select(col("dst").as("src"), col("src").as("dst")))
    // NOT broadcast-rewritten (unlike the LPA/PageRank/k-core loops, r14):
    // the label table flows through the round's UNION as data, not just
    // as a join filter, so per-round materialization (which the broadcast
    // form requires — see peel) costs more than the lazy cadence-4 plan
    // whose doubled references exchange-reuse dedups (measured: both the
    // broadcast variants ran 4.4-4.7 s warm vs 2.6 s for this shape)
    val e = Checkpoints.materialize(
      (if (assumeDistinct) sym else sym.distinct()).repartition(col("src")),
      checkpointDir)
    MinFold(e, None, 0L, "label", "component", ccStep, (label, _) => label)
  }

  /** One min-label round: every node offers its label along its edges;
    * offers union the current table and min-fold per node — the
    * [[bfsDistances]] step shape with the label in place of dist + 1. */
  private def ccStep(e: DataFrame, labels: DataFrame): DataFrame =
    labels.select(col("node").as("src"), col("label"))
      .join(e, "src")
      .select(col("dst").as("node"), col("label"))
      .union(labels)
      .groupBy(col("node")).agg(min(col("label")).as("label"))

  /**
   * Weakly connected components by synchronous min-label propagation:
   * every node converges to the MINIMUM node id of its component — the
   * same labeling [[graft.pipeline.Dedup.clusters]] produces by
   * union-find/pointer-doubling (spec-pinned equal), but as a fixed
   * number of min-fold rounds, which makes the whole trajectory
   * oracle-replayable (the [[bfsDistances]]/[[kcore]] pattern: min-fold
   * rounds are idempotent past the fixpoint, so any `rounds` ≥ the
   * labeled graph's propagation depth — the min node's eccentricity
   * within each component — is exact; [[componentLabelsConverged]]
   * finds the depth). Use clusters() when the edge list is a near-dup
   * pair stream (its driver path is a union-find, and its distributed
   * loop doubles pointers for deep chains); use this when
   * round-replayability or the graph-API shape is wanted. A symmetrized
   * edge list of at most [[DriverPath.DriverMaxEdges]] rows runs its
   * rounds on the driver.
   *
   * Output: (node, component) — component = min member id.
   */
  def componentLabels(edges: DataFrame, rounds: Int,
                      assumeDistinct: Boolean = false,
                      checkpointDir: Option[String] = None): DataFrame =
    componentLabels(DriverPath.DriverMaxEdges, edges, rounds, assumeDistinct,
      checkpointDir)

  /** [[componentLabels]] with the driver path's row `budget`. */
  private[pipeline] def componentLabels(budget: Long, edges: DataFrame,
                                        rounds: Int, assumeDistinct: Boolean,
                                        checkpointDir: Option[String]): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    minFoldFixed(ccSetup(edges, assumeDistinct, checkpointDir), rounds, budget,
      checkpointDir)
  }

  /**
   * Convergence-mode components: propagate until a round changes
   * nothing, capped at `maxRounds` (throws past the cap — house policy).
   * Change check: (row count, Σ label) — the node set is fixed after
   * setup and labels only ever decrease, so the sum is stable iff no
   * label moved. Termination ≤ the largest component's min-node
   * eccentricity (≤ n). Returns (labels, rounds run — the last being the
   * confirming no-op).
   */
  def componentLabelsConverged(edges: DataFrame,
                               maxRounds: Int = 50,
                               assumeDistinct: Boolean = false,
                               checkpointDir: Option[String] = None)
      : (DataFrame, Int) =
    componentLabelsConverged(DriverPath.DriverMaxEdges, edges, maxRounds,
      assumeDistinct, checkpointDir)

  /** [[componentLabelsConverged]] with the driver path's row `budget`. */
  private[pipeline] def componentLabelsConverged(budget: Long, edges: DataFrame,
                                                 maxRounds: Int,
                                                 assumeDistinct: Boolean,
                                                 checkpointDir: Option[String])
      : (DataFrame, Int) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    minFoldConverged(ccSetup(edges, assumeDistinct, checkpointDir), maxRounds,
      budget, checkpointDir, "componentLabelsConverged: still propagating")
  }

  // ------------------------------------------------ degree distribution

  /**
   * Degree-distribution profile of a directed edge list — the first pass
   * run on any new provenance/link graph, BEFORE choosing algorithm knobs:
   * the hub tail sizes [[commonNeighbors]]' `maxApexDegree`,
   * [[kcore]]'s k, and the LSH band caps, and a power-law check here is
   * cheaper than discovering skew as a straggler task later. Per
   * direction (`out`/`in`): log2-bucketed node counts — bucket = bit
   * length of the degree ([[graft.pipeline.Curation]]'s histogram
   * bucketing), so bucket b holds degrees in [2^(b-1), 2^b) — with each
   * bucket's exact min/max degree.
   *
   * Null endpoints drop; duplicate edges dedup unless `assumeDistinct`.
   * Plan: two map-side-combined aggregate pairs over bare (node) keys —
   * rows never wider than (node, degree), output bounded by 64 buckets
   * per direction regardless of corpus size.
   */
  def degreeHistogram(edges: DataFrame,
                      assumeDistinct: Boolean = false): DataFrame = {
    val cast = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
    val e = if (assumeDistinct) cast else cast.distinct()
    def side(key: String, dir: String): DataFrame =
      e.groupBy(col(key).as("node")).agg(count(lit(1)).as("deg"))
        .groupBy(length(bin(col("deg"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("deg")).as("min_degree"),
          max(col("deg")).as("max_degree"))
        .withColumn("direction", lit(dir))
    side("src", "out").unionByName(side("dst", "in"))
      .select(col("direction"), col("bucket"), col("n_nodes"),
        col("min_degree"), col("max_degree"))
  }

  // -------------------------------------------------- common neighbors

  /**
   * Common-neighbor link-prediction scores (Liben-Nowell & Kleinberg
   * CIKM'03): for every node pair sharing ≥ `minCommon` neighbors in the
   * canonical simple graph, the shared-neighbor count — wedge enumeration
   * grouped by endpoint pair, the OPEN-wedge complement of
   * [[triangleCounts]]. On a bipartite provenance graph this IS
   * co-engagement similarity ("users sharing ≥ m suppliers", "pages
   * sharing ≥ m linking hosts"); with `excludeExisting` the non-adjacent
   * survivors are the classic link-prediction candidate set.
   *
   * Besides the raw count, every pair carries two integer refinements of
   * the classic link-prediction literature, both SQL-replayable:
   * `aa_permille` — the Adamic-Adar surrogate Σ_apex 1000 div
   * floor(log₂ deg(apex)) (floor(log₂ d) = bit length − 1, pure bit
   * arithmetic; rare shared neighbors weigh more than hubs; a wedge apex
   * always has deg ≥ 2, so the divisor is ≥ 1) — and `jaccard_permille`
   * — the neighborhood Jaccard 1000·|N(a)∩N(b)| div (|N(a)|+|N(b)|−|∩|)
   * (structural similarity normalized for degree, so two low-degree
   * nodes sharing everything outrank two hubs sharing a sliver).
   *
   * Cost is Σ_apex deg² — quadratic in hub degree, like every exact
   * common-neighbor method. `maxApexDegree` caps the apexes enumerated
   * (one 10⁶-degree hub alone contributes 10¹² wedges at web scale);
   * skipped apexes make counts a LOWER bound — pairs can only drop,
   * never appear spuriously (the [[MarketBasket]] mega-basket guard
   * family; callers needing exactness raise the cap explicitly). The
   * `minCommon` cut applies BEFORE the existing-edge anti-join, and
   * wedges shuffle as bare (p, q, weight) rows — payloads never move.
   *
   * Output: (a, b, n_common, aa_permille, jaccard_permille) with a < b.
   */
  def commonNeighbors(edges: DataFrame, minCommon: Int = 1,
                      excludeExisting: Boolean = false,
                      maxApexDegree: Int = 100000,
                      checkpointDir: Option[String] = None): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(maxApexDegree >= 2,
      s"maxApexDegree must be >= 2 (a wedge needs 2 neighbors), got $maxApexDegree")
    val (canon, deg) = canonDeg(edges, checkpointDir)
    val adj = canon.select(col("a").as("apex"), col("b").as("nbr"))
      .union(canon.select(col("b").as("apex"), col("a").as("nbr")))
    // each adjacency row carries its apex's AA weight so the wedge join
    // needs no second degree lookup; floor(log2 d) = bit length - 1.
    // Degree-1 apexes form no wedges — dropping them up front is
    // result-invariant AND keeps the weight's log2(d) divisor >= 1
    val capped = adj.join(
      deg.filter(col("d") >= 2 && col("d") <= maxApexDegree)
        .select(col("n").as("apex"),
          expr("1000L div CAST(length(bin(d)) - 1 AS BIGINT)").as("aa_w")),
      Seq("apex"))
    // wedge enumeration as ONE apex-keyed aggregate + a map-side double
    // explode over the sorted neighbor array (r14 — the MarketBasket /
    // capBuckets idiom) instead of an apex-keyed self-join: one exchange
    // and no sorts where the join paid two exchanges + two sorts and
    // re-derived `capped` per side. Arrays are pre-capped: the degree
    // filter above runs BEFORE collecting, so no over-cap neighbor list
    // is ever materialized. aa_w is constant per apex (max = the value).
    val cn = capped.groupBy(col("apex"))
      .agg(max(col("aa_w")).as("aa_w"),
        sort_array(collect_list(col("nbr"))).as("nbrs"))
      .select(col("aa_w"), col("nbrs"), explode(col("nbrs")).as("p"))
      .select(col("aa_w"), col("p"), explode(col("nbrs")).as("q"))
      .filter(col("p") < col("q"))
      .groupBy(col("p"), col("q"))
      .agg(count(lit(1)).as("n_common"), sum(col("aa_w")).as("aa_permille"))
      .filter(col("n_common") >= minCommon)
    val out =
      if (excludeExisting)
        cn.join(canon, cn("p") === canon("a") && cn("q") === canon("b"),
          "left_anti")
      else cn
    // Jaccard needs each endpoint's FULL degree: two joins of the bounded
    // survivor set against the node-sized degree table (never the wedges)
    out
      .join(deg.select(col("n").as("p"), col("d").as("__dp")), "p")
      .join(deg.select(col("n").as("q"), col("d").as("__dq")), "q")
      .select(col("p").as("a"), col("q").as("b"), col("n_common"),
        col("aa_permille"),
        expr("(1000 * n_common) div (__dp + __dq - n_common)")
          .as("jaccard_permille"))
  }

  // ------------------------------------------------------- random walks

  /** The deterministic per-step pick hash: the first 60 bits of
    * md5("start:walk:step:cur") as a non-negative long — uniform enough
    * that pick bias is ≤ outdeg/2⁶⁰, and replayable in any engine that
    * has md5 over strings (DuckDB: CAST('0x' || substr(md5(…), 1, 15)
    * AS BIGINT)). */
  private def walkPick(step: Int): org.apache.spark.sql.Column =
    expr("CAST(conv(substring(md5(concat_ws(':', CAST(start AS STRING), " +
      s"CAST(walk AS STRING), '$step', CAST(cur AS STRING))), 1, 15), " +
      "16, 10) AS BIGINT)")

  /**
   * Deterministic "random" walks — the DeepWalk / node2vec(p=q=1) corpus
   * prep (Perozzi et al. KDD'14): `walksPerNode` walks of `length` steps
   * start at EVERY node; at step s a walk at node v moves to the
   * out-neighbor whose rank among v's neighbors (sorted by id) is
   * md5(start:walk:s:v) mod outdeg(v). The md5-driven choice makes the
   * walk corpus a pure function of the edge list — partition-independent,
   * rerun-stable, and SQL-replayable — while distributing uniformly over
   * neighbors up to a ≤ outdeg/2⁶⁰ bias. Walks that reach a node with no
   * out-edges stop early (rows up to the dead end emit); symmetrize the
   * edge list for never-dying undirected walks.
   *
   * Per step: one join against the per-node out-degree table to compute
   * the pick index, then one EQUI-join against the (src, idx) adjacency —
   * both shuffles keyed on the current node, no fan-out (the pick is
   * resolved before touching adjacency, so a hub's 10⁶ neighbors are
   * never replicated per walk). State rows never carry more than
   * (start, walk, cur); at 100 TB the walk frontier is
   * nodes × walksPerNode rows regardless of edge count.
   *
   * Output: (start, walk, step, node) — step 0 is the start node itself.
   */
  def randomWalks(edges: DataFrame, walksPerNode: Int, length: Int,
                  assumeDistinct: Boolean = false,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    require(length >= 1, s"length must be >= 1, got $length")
    val cast = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
    val e = Checkpoints.materialize(
      if (assumeDistinct) cast else cast.distinct(), checkpointDir)
    // neighbor ranks: one window shuffle over the edge list, materialized
    // once — every step equi-joins it on (src, idx)
    val adj = Checkpoints.materialize(
      e.select(col("src"), col("dst"),
        (row_number().over(
          Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .cast("long").as("nbr_idx")),
      checkpointDir)
    val deg = Checkpoints.materialize(
      e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), checkpointDir)
    val starts = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var state = starts
      .select(col("node").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"),
        col("node").as("cur"))
    val steps = scala.collection.mutable.ArrayBuffer(
      state.select(col("start"), col("walk"), lit(0L).as("step"),
        col("cur").as("node")))
    for (s <- 1 to length) {
      val picked = state.join(deg, state("cur") === deg("src"))
        .select(col("start"), col("walk"), col("cur"),
          pmod(walkPick(s), col("outdeg")).as("pick"))
      // materialize EVERY step: the final union reads all L frontiers, so
      // an unmaterialized chain re-executes O(L²/2) joins (L=40 DeepWalk
      // walks would pay ~800 joins); each frontier is only
      // nodes × walksPerNode rows — cheap to pin
      state = Checkpoints.materialize(
        picked
          .join(adj, picked("cur") === adj("src") &&
            picked("pick") === adj("nbr_idx"))
          .select(col("start"), col("walk"), col("dst").as("cur")),
        checkpointDir)
      steps += state.select(col("start"), col("walk"),
        lit(s.toLong).as("step"), col("cur").as("node"))
    }
    steps.reduce(_ union _)
  }

  /**
   * node2vec biased walks (Grover & Leskovec KDD'16) — the second-order
   * extension of [[randomWalks]]: having arrived at `cur` FROM `prev`,
   * each neighbor x of cur carries an unnormalized integer weight
   *
   *   - `returnPermille`  when x == prev            (the 1/p return knob)
   *   - 1000              when edge (prev → x) exists (BFS-ish stay-near)
   *   - `farPermille`     otherwise                  (the 1/q explore knob)
   *
   * and the step picks the neighbor whose cumulative-weight interval
   * (id-sorted) contains md5(start:walk:step:cur) mod Σweights — the
   * [[randomWalks]] determinism contract extended to weighted choice, so
   * the whole corpus is still a pure function of the edge list and
   * replays verbatim in SQL. Step 1 has no prev and picks uniformly
   * (identical to randomWalks' first hop). Neighbor classification uses
   * DIRECTED edge membership — symmetrize the input for the standard
   * undirected node2vec.
   *
   * Cost note: biased steps must SCORE EVERY neighbor of the frontier —
   * Σ_{walks} deg(cur) weight evaluations per step, quadratic in hub
   * degree the way every exact node2vec implementation is (the reference
   * implementations pre-materialize alias tables of the same size). But
   * the scoring is IN-ROW, not row-fan-out: each step equi-joins the
   * frontier against the once-materialized id-sorted adjacency-ARRAY
   * table (current node's array + prev's array) and resolves the
   * weighted pick inside one codegen'd expression
   * (the `node2vec_choose` row of [[org.apache.spark.sql.graft.SqlFunctions]],
   * a two-pointer merge
   * over the two sorted arrays). The previous shape exploded the frontier
   * into per-neighbor rows, left-joined an edge-existence mark per
   * (prev, nbr), and ran a per-walk windowed cumsum: three shuffles of
   * Σ deg fan rows plus a window sort per step, for the same arithmetic
   * (measured at the sf0.1 gate: 3.9 s → 2.1 s warm, 8.4 s → 3.4 s cold;
   * zero Window nodes left in the plan). Shuffled rows never carry more
   * than one
   * adjacency array per frontier row — a 10⁶-degree hub ships its 8 MB
   * array once per walk VISIT, the same volume the fan shipped as rows,
   * but through one shuffle instead of three and with no sort behind it.
   * Each step's surviving frontier (nodes × walksPerNode rows) is
   * materialized, the randomWalks lineage rule.
   *
   * Output: (start, walk, step 0..length, node), like [[randomWalks]].
   */
  def node2vecWalks(edges: DataFrame, walksPerNode: Int, length: Int,
                    returnPermille: Int = 500, farPermille: Int = 500,
                    assumeDistinct: Boolean = false,
                    checkpointDir: Option[String] = None): DataFrame = {
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    require(length >= 1, s"length must be >= 1, got $length")
    require(returnPermille >= 1 && returnPermille <= 1000000,
      s"returnPermille out of [1, 1e6]: $returnPermille")
    require(farPermille >= 1 && farPermille <= 1000000,
      s"farPermille out of [1, 1e6]: $farPermille")
    val cast = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
    val e = Checkpoints.materialize(
      if (assumeDistinct) cast else cast.distinct(), checkpointDir)
    // id-sorted adjacency ARRAYS (sort_array ∘ collect_list ≡ the old
    // row_number-by-dst ranking — e is distinct, so no duplicate ties),
    // materialized once; every step reads it by equi-join
    val adjList = Checkpoints.materialize(
      e.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs")),
      checkpointDir)
    val starts = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val s0 = starts
      .select(col("node").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"),
        col("node").as("cur"))
    val steps = scala.collection.mutable.ArrayBuffer(
      s0.select(col("start"), col("walk"), lit(0L).as("step"),
        col("cur").as("node")))
    // step 1: no prev yet — the uniform randomWalks hop (pick = hash mod
    // outdeg over the id-sorted neighbors, exactly the old (src, nbr_idx)
    // equi-join's row), carrying prev out. element_at is 1-based.
    val j1 = s0.join(adjList, s0("cur") === adjList("src"))
    var state = Checkpoints.materialize(
      j1.select(col("start"), col("walk"), col("cur").as("prev"),
        element_at(col("nbrs"),
          (pmod(walkPick(1), size(col("nbrs")).cast("long")) + 1L)
            .cast("int")).as("cur")),
      checkpointDir)
    steps += state.select(col("start"), col("walk"), lit(1L).as("step"),
      col("cur").as("node"))
    for (s <- 2 to length) {
      val withCur = state.join(adjList, state("cur") === adjList("src"))
        .select(col("start"), col("walk"), col("prev"), col("cur"),
          col("nbrs"))
      val withPrev = withCur.join(
        adjList.select(col("src").as("__p"), col("nbrs").as("prev_nbrs")),
        col("prev") === col("__p"))
      state = Checkpoints.materialize(
        withPrev.select(col("start"), col("walk"), col("cur").as("prev"),
          SqlFunctions.node2vecChoose(col("nbrs"), col("prev_nbrs"), col("prev"),
            walkPick(s), lit(returnPermille.toLong), lit(farPermille.toLong)).as("cur")),
        checkpointDir)
      steps += state.select(col("start"), col("walk"),
        lit(s.toLong).as("step"), col("cur").as("node"))
    }
    steps.reduce(_ union _)
  }
}
