package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.MathUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * The driver-side path of the iterative operators ([[Graph]]'s min-fold
 * operators, fixed-round and converged, its fixed-round label-propagation
 * operators, and [[Dedup.clusters]]). Small inputs pay one Spark job per
 * round in the distributed loops, and scheduling, not work, sets their
 * time. So once an operator has materialized its cleaned edge table,
 * [[collectUnder]] counts it, and a table of at most the budget (default
 * [[DriverMaxEdges]]) rows is collected as primitive long columns and
 * iterated here, on the driver, with the distributed rounds' exact
 * semantics. A larger table keeps the distributed loop, over the same
 * materialized table.
 */
private[pipeline] object DriverPath {

  /** Row budget of the cleaned edge table a driver path may collect: 2M
    * rows of two or three longs is 32-48 MB of primitive arrays, small
    * next to any driver heap. */
  val DriverMaxEdges: Long = 2000000L

  /** Counts `table` (every column a long); over `budget` rows returns
    * `Left(count)`, else collects its columns (one primitive array per
    * column, rows aligned) and returns them as `Right`. A null cell throws
    * [[IllegalArgumentException]]: the driver kernels have no null. The
    * table stays stored; [[release]] frees it. */
  def collectUnder(table: DataFrame, budget: Long): Either[Long, Array[Array[Long]]] = {
    val n = table.count()
    if (n > budget) Left(n)
    else {
      val names = table.columns
      val width = names.length
      val parts = table.queryExecution.toRdd.mapPartitions { rows =>
        val cols = Array.fill(width)(new scala.collection.mutable.ArrayBuilder.ofLong)
        rows.foreach { r =>
          var j = 0
          while (j < width) {
            if (r.isNullAt(j))
              throw new IllegalArgumentException(s"null in column ${names(j)}")
            cols(j) += r.getLong(j)
            j += 1
          }
        }
        Iterator.single(cols.map(_.result()))
      }.collect()
      Right(Array.tabulate(width)(j => Array.concat(parts.map(_(j)).toIndexedSeq: _*)))
    }
  }

  /** Frees the blocks `table` itself was stored in — the persisted RDD
    * behind a local checkpoint, or a `cache()`/`persist()` entry — and
    * nothing it was derived from (a reliable checkpoint's files stay
    * where the caller put them). */
  def release(table: DataFrame): Unit = table.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = true)
    case _ => table.unpersist(blocking = true)
  }

  /** A local DataFrame of long columns, named `names`. */
  def frame(spark: SparkSession, names: Seq[String],
            cols: Array[Array[Long]]): DataFrame = {
    val n = if (cols.isEmpty) 0 else cols(0).length
    val rows = new java.util.ArrayList[Row](n)
    var i = 0
    while (i < n) { rows.add(Row.fromSeq(cols.toSeq.map(_(i)))); i += 1 }
    spark.createDataFrame(rows,
      StructType(names.map(StructField(_, LongType, nullable = true))))
  }

  /** Long `+` and unary `-` as the session's SQL evaluates them: under
    * ANSI an overflow throws Spark's own `SparkArithmeticException` (the
    * same `MathUtils` calls the SQL operators make), otherwise it wraps. */
  final class SqlLong(spark: SparkSession) {
    private val ansi = spark.sessionState.conf.ansiEnabled
    def add(a: Long, b: Long): Long = if (ansi) MathUtils.addExact(a, b) else a + b
    def neg(a: Long): Long = if (ansi) MathUtils.negateExact(a) else -a
  }

  /** Dense ids for the endpoints of an edge list: `ids(k)` is the k-th
    * distinct endpoint in first-seen order, `a`/`b` the edges' endpoint
    * indices. */
  private final class Dense(srcIds: Array[Long], dstIds: Array[Long]) {
    private val index = new scala.collection.mutable.LongMap[Int](srcIds.length)
    private val seen = new scala.collection.mutable.ArrayBuilder.ofLong
    private def of(x: Long): Int =
      index.getOrElseUpdate(x, { seen += x; index.size })
    val a: Array[Int] = srcIds.map(of)
    val b: Array[Int] = dstIds.map(of)
    val ids: Array[Long] = seen.result()
    def indexOf(x: Long): Option[Int] = index.get(x)
  }

  /**
   * Synchronous min-fold rounds over a collected directed edge list, the
   * kernel of [[Graph]]'s components, BFS, weighted-SSSP and temporal
   * reachability: each round, every reached node offers
   * `offer(value, payload)` along each out-edge whose payload it `admits`,
   * and every node keeps the minimum of its offers and its current value.
   * Every admitted offer is computed, as the distributed round computes one
   * per joined row, so an overflowing offer throws here too.
   *
   * @param init round-0 reached nodes and values; nodes outside the edge
   *             list are ignored
   */
  final class MinFold(src: Array[Long], dst: Array[Long], payload: Array[Long],
                      init: Iterable[(Long, Long)],
                      offer: (Long, Long) => Long,
                      admits: (Long, Long) => Boolean) {
    private val g = new Dense(src, dst)
    private var value = new Array[Long](g.ids.length)
    private var reached = new Array[Boolean](g.ids.length)
    init.foreach { case (node, v) =>
      g.indexOf(node).foreach { k => value(k) = v; reached(k) = true }
    }

    def round(): Unit = {
      val next = value.clone()
      val nextReached = reached.clone()
      var i = 0
      while (i < g.a.length) {
        val u = g.a(i)
        if (reached(u)) {
          val p = if (payload == null) 0L else payload(i)
          if (admits(value(u), p)) {
            val o = offer(value(u), p)
            val v = g.b(i)
            if (!nextReached(v) || o < next(v)) { next(v) = o; nextReached(v) = true }
          }
        }
        i += 1
      }
      value = next
      reached = nextReached
    }

    /** (reached count, Σ value) — the distributed converged loops'
      * stopping signature, summed with `sum` as the session's SQL would. */
    def signature(ops: SqlLong): (Long, Long) = {
      var n = 0L
      var s = 0L
      var k = 0
      while (k < value.length) {
        if (reached(k)) { n += 1; s = ops.add(s, value(k)) }
        k += 1
      }
      (n, s)
    }

    /** (node, value) columns of the reached nodes. */
    def result: Array[Array[Long]] = {
      val ks = reached.indices.filter(reached(_)).toArray
      Array(ks.map(g.ids(_)), ks.map(value(_)))
    }
  }

  /**
   * Synchronous label propagation over a collected canonical simple graph
   * (`a < b` pairs, distinct), the kernel of [[Graph]]'s LPA operators:
   * labels start as the node ids, and each round every node adopts the
   * label most frequent among its neighbors' labels and its own
   * (the self-vote), ties toward the smallest label. The tie-break is
   * taken, as in the distributed vote, as the largest negated label, so a
   * `Long.MinValue` label overflows exactly where the SQL negation does.
   */
  final class Lpa(canonA: Array[Long], canonB: Array[Long], ops: SqlLong) {
    private val g = new Dense(canonA, canonB)
    private val n = g.ids.length
    private val deg = new Array[Int](n)
    g.a.foreach(deg(_) += 1)
    g.b.foreach(deg(_) += 1)
    private val start = deg.scanLeft(0)(_ + _)
    private val nbr = {
      val out = new Array[Int](start(n))
      val fill = start.clone()
      var i = 0
      while (i < g.a.length) {
        out(fill(g.a(i))) = g.b(i); fill(g.a(i)) += 1
        out(fill(g.b(i))) = g.a(i); fill(g.b(i)) += 1
        i += 1
      }
      out
    }
    private var label = g.ids.clone()

    /** One round. */
    def round(): Unit = {
      val next = new Array[Long](n)
      val votes = new Array[Long](deg.foldLeft(0)(math.max) + 1)
      var v = 0
      while (v < n) {
        var k = 0
        votes(k) = label(v); k += 1
        var j = start(v)
        while (j < start(v + 1)) { votes(k) = label(nbr(j)); k += 1; j += 1 }
        java.util.Arrays.sort(votes, 0, k)
        var best = 0L
        var bestCount = 0
        var bestNeg = 0L
        var i = 0
        while (i < k) {
          var e = i + 1
          while (e < k && votes(e) == votes(i)) e += 1
          val c = e - i
          val neg = ops.neg(votes(i))
          if (c > bestCount || (c == bestCount && neg > bestNeg)) {
            best = votes(i); bestCount = c; bestNeg = neg
          }
          i = e
        }
        next(v) = best
        v += 1
      }
      label = next
    }

    /** (node, label) columns. */
    def labels: Array[Array[Long]] = Array(g.ids.clone(), label.clone())

    /** (community, n_nodes, degree_sum, intra_edges) columns: members,
      * summed canonical degree and canonical edges inside, per label. */
    def communityStats: Array[Array[Long]] = {
      val slot = new scala.collection.mutable.LongMap[Int]()
      val community = new scala.collection.mutable.ArrayBuilder.ofLong
      label.foreach(l => slot.getOrElseUpdate(l, { community += l; slot.size }))
      val c = slot.size
      val nodes, degrees, intra = new Array[Long](c)
      var v = 0
      while (v < n) {
        val s = slot(label(v)); nodes(s) += 1; degrees(s) += deg(v); v += 1
      }
      var i = 0
      while (i < g.a.length) {
        if (label(g.a(i)) == label(g.b(i))) intra(slot(label(g.a(i)))) += 1
        i += 1
      }
      Array(community.result(), nodes, degrees, intra)
    }

    /** (m_edges, q_permille) columns, one row: Newman-Girvan modularity of
      * the current labels, `1000·Σ_c(4·m·e_c − D_c²) div (4·m²)` with
      * `div` truncating toward zero, 0 for the empty graph. No term
      * overflows: within the budget m ≤ 2M, so 1000·4·m² < 2⁶³. */
    def modularity: Array[Array[Long]] = {
      val m = g.a.length.toLong
      val Array(_, _, degrees, intra) = communityStats
      val num = degrees.indices.map(s => 4 * m * intra(s) - degrees(s) * degrees(s)).sum
      Array(Array(m), Array(if (m == 0) 0L else 1000 * num / (4 * m * m)))
    }
  }

  /** Min-id component labels by union-find over a collected pair list:
    * (id, cluster) columns, `cluster` the smallest id its component
    * reaches — the fixpoint of [[Dedup.clusters]]' distributed loop. */
  def unionFindLabels(a: Array[Long], b: Array[Long]): Array[Array[Long]] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    var i = 0
    while (i < a.length) {
      val ra = find(a(i)); val rb = find(b(i))
      // union by MIN root so the representative is the minimum id
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      else { parent.getOrElseUpdate(a(i), ra); parent.getOrElseUpdate(b(i), rb) }
      i += 1
    }
    val ids = (a ++ b).distinct
    Array(ids, ids.map(find))
  }
}
