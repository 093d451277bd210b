// Same packaging rationale as expressions.scala: Catalyst-private types.
package org.apache.spark.sql.graft

import graft.text.TextCore
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native expressions for the training-data-pipeline operators (dedup,
 * similarity, text analysis) that hold state or emit rows: broadcast
 * lookups, model and codebook holders, generators and aggregates, plus
 * the `TextOps`/`VecOps` kernels. The stateless functions are rows of
 * [[SqlFunctions]]. These are the hot inner loops of 100 TB-scale jobs, so
 * they are single-pass over the row's text/vector with no per-row
 * allocation beyond the output.
 */

/**
 * label_lookup(id) — broadcast-index component-label lookup: binary-search
 * `id` in the SORTED ids array, return its label, or `id` itself when
 * absent (the "own provisional label" default of cluster labelings). The
 * map-side twin of `left join labels + coalesce(label, id)`, usable INSIDE
 * bucket arrays (via `transform`) where a join cannot reach without
 * exploding and regrouping the bucket — which on sig-carrying buckets
 * means re-shuffling ~0.5 KB per member per band. Gate broadcasts by the
 * label count: the index is 16 B per CLUSTERED doc.
 */
case class LabelLookup(child: Expression,
                       index: Broadcast[(Array[Long], Array[Long])])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "label_lookup"
  override protected def nullSafeEval(id: Any): Any =
    LabelLookup.lookup(id.asInstanceOf[Long], index)
  // real codegen (addReferenceObj embeds the broadcast handle): this
  // expression sits under the in-bucket pair explode — an interpreted
  // fallback there would break whole-stage codegen for a stream that can
  // reach billions of rows on capped-but-hot buckets
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("labelIndex", index,
      "org.apache.spark.broadcast.Broadcast")
    defineCodeGen(ctx, ev,
      id => s"org.apache.spark.sql.graft.LabelLookup.lookup($id, $idx)")
  }
  override protected def withNewChildInternal(c: Expression): LabelLookup =
    copy(child = c)
}

object LabelLookup {
  def lookup(id: Long, bc: Broadcast[(Array[Long], Array[Long])]): Long = {
    val t = bc.value
    val p = java.util.Arrays.binarySearch(t._1, id)
    if (p >= 0) t._2(p) else id
  }
}

/**
 * cross_label_pairs(items, minEst) over array<struct<id long, sig
 * array<long>>> — emits (id_a, id_b) for every in-bucket pair whose
 * members carry DIFFERENT component labels (broadcast [[LabelLookup]]
 * index; absent → own id) and whose signature-estimate Jaccard passes
 * `minEst`. One pass per bucket: members group by label first, so the
 * dominant single-component mass of a bucket (the duplication cliques a
 * prior labeling round already connected) is skipped WITHOUT enumerating
 * its internal pairs — per-bucket work is Σ |gᵢ|×|gⱼ| over label groups,
 * not n²/2, and nothing pair-shaped is ever generated as rows just to be
 * filtered. Single-label buckets emit nothing.
 */
case class CrossLabelPairs(items: Expression, minEst: Expression,
                           index: Broadcast[(Array[Long], Array[Long])])
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(items, minEst)
  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val iv = items.eval(input)
    val tv = minEst.eval(input)
    if (iv == null || tv == null) return Nil
    val arr = iv.asInstanceOf[ArrayData]
    val minEstV = tv.asInstanceOf[Double]
    val n = arr.numElements()
    if (n < 2) return Nil
    val ids = new Array[Long](n)
    val labs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val m = arr.getStruct(i, 2)
      ids(i) = m.getLong(0)
      labs(i) = LabelLookup.lookup(ids(i), index)
      i += 1
    }
    // group member indexes by label, insertion-ordered (deterministic)
    val groups = new java.util.LinkedHashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    i = 0
    while (i < n) {
      var g = groups.get(labs(i))
      if (g == null) { g = scala.collection.mutable.ArrayBuffer.empty[Int]; groups.put(labs(i), g) }
      g += i
      i += 1
    }
    if (groups.size <= 1) return Nil
    val gs = groups.values.toArray(Array.empty[scala.collection.mutable.ArrayBuffer[Int]])
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var gi = 0
    while (gi < gs.length) {
      var gj = gi + 1
      while (gj < gs.length) {
        gs(gi).foreach { a =>
          val sigA = arr.getStruct(a, 2).getArray(1)
          gs(gj).foreach { b =>
            val sigB = arr.getStruct(b, 2).getArray(1)
            if (SqlKernels.sigJaccard(sigA, sigB) >= minEstV)
              out += InternalRow(math.min(ids(a), ids(b)), math.max(ids(a), ids(b)))
          }
        }
        gj += 1
      }
      gi += 1
    }
    out
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CrossLabelPairs =
    copy(items = newChildren(0), minEst = newChildren(1))
  override def prettyName: String = "cross_label_pairs"
}

/**
 * explode_shingles(text, n) — table-generating function (UDTF/Generator):
 * one row per DISTINCT hashed character n-gram of the text. The building
 * block for set-based dedup pipelines expressed in plain SQL
 * (e.g. inverted shingle→doc index: SELECT shingle_hash, doc_id FROM docs,
 * LATERAL explode_shingles(text, 5)).
 */
case class ExplodeShingles(text: Expression, n: Expression)
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(text, n)
  override def elementSchema: StructType =
    StructType(Seq(StructField("shingle_hash", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    val nn = n.eval(input)
    if (t == null || nn == null) Nil
    else TextCore.shingleHashes(t.toString, nn.asInstanceOf[Int])
      .iterator.map(h => InternalRow(h))
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (text.dataType == StringType && n.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"explode_shingles expects (string, int), got (${text.dataType}, ${n.dataType})")
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExplodeShingles =
    copy(text = newChildren(0), n = newChildren(1))
  override def prettyName: String = "explode_shingles"
}

/** ArrayData-direct text-set helpers: no `toLongArray()` — on a verify path
  * evaluating hundreds of millions of candidate pairs, copying two ~KB
  * arrays per pair is pure allocation churn; `getLong(i)` reads the
  * UnsafeArrayData view in place. */
object TextOps {
  /** Threshold-aware early-abandon Jaccard over two sorted long arrays:
    * exact value when ≥ t, -1.0 the moment the bound proves it can't be. */
  def sortedJaccardAtLeast(a: ArrayData, b: ArrayData, t: Double): Double = {
    val la = a.numElements(); val lb = b.numElements()
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return if (t <= 0.0) 0.0 else -1.0
    val alpha = t / (1.0 + t) * (la + lb) - 1e-9
    var i = 0; var j = 0; var inter = 0
    var va = a.getLong(0); var vb = b.getLong(0)
    while (true) {
      if (inter + math.min(la - i, lb - j) < alpha) return -1.0
      if (va == vb) {
        inter += 1; i += 1; j += 1
        if (i == la || j == lb) return inter.toDouble / (la + lb - inter)
        va = a.getLong(i); vb = b.getLong(j)
      } else if (va < vb) {
        i += 1
        if (i == la) return inter.toDouble / (la + lb - inter)
        va = a.getLong(i)
      } else {
        j += 1
        if (j == lb) return inter.toDouble / (la + lb - inter)
        vb = b.getLong(j)
      }
    }
    -1.0 // unreachable
  }

  /** Early-abandon intersection count over two sorted long arrays: the
    * exact |A ∩ B| when ≥ `need`, -1 the moment the remaining-element
    * bound proves it can't get there. The verify kernel for CONTAINMENT
    * (partial-copy) joins, where the threshold is a raw overlap count
    * rather than a Jaccard ratio. */
  def sortedIntersectAtLeast(a: ArrayData, b: ArrayData, need: Int): Long = {
    val la = a.numElements(); val lb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < la && j < lb) {
      if (inter + math.min(la - i, lb - j) < need) return -1L
      val va = a.getLong(i); val vb = b.getLong(j)
      if (va == vb) { inter += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    if (inter >= need) inter.toLong else -1L
  }

  /**
   * Depth-limited LOWER bound on |A Δ B| for two sorted long arrays — the
   * PPJoin+ suffix-filtering probe (Xiao et al. WWW'08 §4, generalized to
   * the whole set): partition both sets around the probe value (the middle
   * of A's range) and recurse on both halves; each absent probe value and
   * each leaf size imbalance is a certified difference. Exact with
   * unbounded depth; at depth 0 the bound degrades to |#A − #B|. A few
   * binary searches can prove a candidate pair cannot reach the required
   * overlap before the O(#A + #B) merge runs.
   */
  def symmDiffLowerBound(a: ArrayData, al: Int, ar: Int,
                         b: ArrayData, bl: Int, br: Int, depth: Int): Int = {
    val na = ar - al; val nb = br - bl
    if (na == 0) return nb
    if (nb == 0) return na
    if (depth <= 0) return math.abs(na - nb)
    val mid = (al + ar) >>> 1
    val m = a.getLong(mid)
    var lo = bl; var hi = br
    while (lo < hi) {
      val c = (lo + hi) >>> 1
      if (b.getLong(c) < m) lo = c + 1 else hi = c
    }
    val inB = lo < br && b.getLong(lo) == m
    symmDiffLowerBound(a, al, mid, b, bl, lo, depth - 1) +
      symmDiffLowerBound(a, mid + 1, ar, b, if (inB) lo + 1 else lo, br, depth - 1) +
      (if (inB) 0 else 1)
  }

  /**
   * Threshold-aware early-abandon Jaccard over two DENSE GRAM BITSETS
   * (equal word counts, bit p = corpus gram index p): exact value when ≥ t,
   * -1.0 the moment the popcount bound proves it can't be. szA/szB are the
   * set cardinalities (the bitsets' total popcounts). For a negative pair
   * the bound trips after a handful of words — each 64-gram word costs 3
   * popcounts vs ~64 branchy merge steps in the sorted-array path, which is
   * what makes the small-vocabulary (low-diversity) regime cheap to verify.
   */
  def bitsetJaccardAtLeast(a: ArrayData, b: ArrayData, szA: Int, szB: Int,
                           t: Double): Double = {
    if (szA == 0 && szB == 0) return 1.0
    if (szA == 0 || szB == 0) return if (t <= 0.0) 0.0 else -1.0
    val n = math.min(a.numElements(), b.numElements())
    val alpha = t / (1.0 + t) * (szA + szB) - 1e-9
    var inter = 0; var seenA = 0; var seenB = 0
    var w = 0
    while (w < n) {
      val va = a.getLong(w); val vb = b.getLong(w)
      inter += java.lang.Long.bitCount(va & vb)
      seenA += java.lang.Long.bitCount(va)
      seenB += java.lang.Long.bitCount(vb)
      if (inter + math.min(szA - seenA, szB - seenB) < alpha) return -1.0
      w += 1
    }
    inter.toDouble / (szA + szB - inter)
  }
}

/**
 * jaccard_bucket_pairs(items, threshold) — table-generating function fusing
 * candidate enumeration AND exact verification inside one prefix bucket:
 * `items` is array<struct<id long, sz int, rk int, payload array<long>>>
 * (payload = the doc's sorted gram hashes, or its dense gram BITSET when
 * `payloadIsBitset`) and the output rows are (id_a, id_b, jaccard) for
 * in-bucket pairs passing the length filter, the PPJoin positional filter,
 * and exact Jaccard ≥ threshold. Verified duplicates (one per shared prefix
 * gram) still need a downstream dropDuplicates, but nothing unverified ever
 * leaves the bucket.
 *
 * The hot loop pre-extracts every item's fields into primitive arrays ONCE
 * per bucket (the previous shape paid a getStruct wrapper allocation per
 * (i, j) slot — ~1B allocations per sf1 run) and sorts by set size so the
 * length filter becomes a two-pointer window: pairs that fail it are never
 * enumerated at all.
 */
case class JaccardBucketPairs(items: Expression, threshold: Expression,
                              payloadIsBitset: Boolean = false,
                              suffixFilterDepth: Int = 0)
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(items, threshold)
  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("jaccard", DoubleType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = items.eval(input)
    val tv = threshold.eval(input)
    if (arr == null || tv == null) return Nil
    val a = arr.asInstanceOf[ArrayData]
    val t = tv.asInstanceOf[Double]
    val n = a.numElements()
    if (n < 2) return Nil
    val ratio = t / (1.0 + t)
    val itemWidth = items.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].length
    // one-time extraction, then sort by sz ascending (index sort)
    val ids = new Array[Long](n)
    val szs = new Array[Int](n)
    val rks = new Array[Int](n)
    val payloads = new Array[ArrayData](n)
    var k = 0
    while (k < n) {
      val r = a.getStruct(k, itemWidth)
      ids(k) = r.getLong(0); szs(k) = r.getInt(1); rks(k) = r.getInt(2)
      payloads(k) = r.getArray(3)
      k += 1
    }
    // sort indices by sz ascending; ties arbitrary (order-insensitive below)
    val bySz = Array.range(0, n).sortBy(szs)
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    var hi = 0
    while (i < n) {
      val pi = bySz(i)
      val szI = szs(pi)
      // two-pointer window: with sz sorted ascending and j > i, szI <= szJ
      // makes szI*t <= szJ automatic; the binding check is szJ*t <= szI.
      if (hi < i + 1) hi = i + 1
      while (hi < n && szs(bySz(hi)) * t <= szI + 1e-6) hi += 1
      val idI = ids(pi); val rkI = rks(pi); val payI = payloads(pi)
      var j = i + 1
      while (j < hi) {
        val pj = bySz(j)
        val idJ = ids(pj)
        if (idI != idJ) {
          val szJ = szs(pj); val rkJ = rks(pj)
          // PPJoin positional filter (prefix ranks witness max overlap)
          val alpha = ratio * (szI + szJ)
          if (alpha - 1e-6 <= 1.0 + math.min(szI - rkI, szJ - rkJ)) {
            // PPJoin+ suffix filter (sorted-array payloads only — the
            // bitset verify is already cheaper than the probe): a few
            // binary searches bound the overlap from above; prune when it
            // provably can't reach alpha
            val suffixOk = payloadIsBitset || suffixFilterDepth <= 0 || {
              val lb = TextOps.symmDiffLowerBound(
                payI, 0, szI, payloads(pj), 0, szJ, suffixFilterDepth)
              (szI + szJ - lb) * 0.5 + 1e-9 >= alpha
            }
            val jac = if (!suffixOk) -1.0
              else if (payloadIsBitset)
                TextOps.bitsetJaccardAtLeast(payI, payloads(pj), szI, szJ, t)
              else TextOps.sortedJaccardAtLeast(payI, payloads(pj), t)
            if (jac >= t) {
              val (lo, hj) = if (idI < idJ) (idI, idJ) else (idJ, idI)
              out += InternalRow(lo, hj, jac)
            }
          }
        }
        j += 1
      }
      i += 1
    }
    out
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): JaccardBucketPairs =
    copy(items = newChildren(0), threshold = newChildren(1))
  override def prettyName: String = "jaccard_bucket_pairs"
}

/**
 * prefix_bucket_rows(grams, threshold) — table-generating function for the
 * SMALL-VOCABULARY exact-Jaccard path: given a doc's sorted distinct gram
 * hashes and a broadcast corpus gram index (sorted gram array + per-gram
 * document frequencies), emits one row per PREFIX gram of the doc:
 * (gram, rk, sz, bits) where rk is the gram's 1-based rarity rank within
 * the doc (ascending (df, gram) — the same global total order as the
 * flat pipeline's window), sz the doc's distinct-gram count, and bits the
 * doc's dense gram bitset over the corpus index.
 *
 * This computes MAP-SIDE what the general-vocabulary path needs a
 * df-join + per-doc window shuffle for — the whole rarity ranking collapses
 * into a per-row lookup against the broadcast index, so the only shuffle
 * left in the pipeline is the bucket groupBy itself.
 *
 * Throws if a gram is missing from the index: the index is built from the
 * same corpus, so a miss means the caller fed a different dataset, and a
 * silent skip would corrupt the bitset cardinalities (missed true pairs).
 */
case class PrefixBucketRows(grams: Expression, threshold: Expression,
                            index: Broadcast[(Array[Long], Array[Long])])
    extends Expression with Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(grams, threshold)
  override def elementSchema: StructType = StructType(Seq(
    StructField("gram", LongType, nullable = false),
    StructField("rk", IntegerType, nullable = false),
    StructField("sz", IntegerType, nullable = false),
    StructField("bits", ArrayType(LongType, containsNull = false), nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val gv = grams.eval(input)
    val tv = threshold.eval(input)
    if (gv == null || tv == null) return Nil
    val g = gv.asInstanceOf[ArrayData]
    val t = tv.asInstanceOf[Double]
    val sz = g.numElements()
    if (sz == 0) return Nil
    val (vocab, gdfs) = index.value
    val nWords = (vocab.length + 63) >>> 6
    val bits = new Array[Long](nWords)
    val gdfOf = new Array[Long](sz)
    var i = 0
    while (i < sz) {
      val v = g.getLong(i)
      val p = java.util.Arrays.binarySearch(vocab, v)
      if (p < 0) throw new IllegalStateException(
        s"gram $v not in the corpus index — the index was built from a different dataset")
      bits(p >>> 6) |= 1L << (p & 63)
      gdfOf(i) = gdfs(p)
      i += 1
    }
    // rarity order = ascending (df, gram); g is gram-ascending already, so a
    // STABLE sort by df alone yields gram-ascending within equal df — the
    // exact total order the flat pipeline's window uses
    val prefixLen = sz - math.ceil(sz * t - 1e-9).toInt + 1
    val order = (0 until sz).sortBy(gdfOf)
    val bitsData = new GenericArrayData(bits) // shared across rows: read-only
    val out = new Array[InternalRow](math.min(prefixLen, sz))
    var r = 0
    while (r < out.length) {
      out(r) = InternalRow(g.getLong(order(r)), r + 1, sz, bitsData)
      r += 1
    }
    out
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PrefixBucketRows =
    copy(grams = newChildren(0), threshold = newChildren(1))
  override def prettyName: String = "prefix_bucket_rows"
}

/**
 * collect_bucket_capped(id, sz, rk, payload, cap) — size-bounded bucket
 * collection: aggregates (id, sz, rk, payload) rows into
 * struct<total long, items array<struct<id, sz, rk, payload>>>, retaining
 * at most `cap` items. The moment a bucket exceeds the cap its retained
 * items are DISCARDED (items comes back empty, total keeps counting), so an
 * over-cap bucket — the degenerate hot gram this cap exists for — never
 * materializes more than cap payloads in any aggregation buffer, partial or
 * final. This is the memory-safety property a collect_list-then-filter
 * shape lacks: there the full hot bucket is built in one task before being
 * dropped.
 */
case class CollectBucketCapped(id: Expression, sz: Expression, rk: Expression,
                               payload: Expression, cap: Int,
                               mutableAggBufferOffset: Int = 0,
                               inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BucketBuffer] {
  require(cap > 0, s"cap must be positive, got $cap")

  override def children: Seq[Expression] = Seq(id, sz, rk, payload)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sz", IntegerType, nullable = false),
      StructField("rk", IntegerType, nullable = false),
      StructField("payload", ArrayType(LongType, containsNull = false), nullable = false))),
      containsNull = false), nullable = false)))

  override def createAggregationBuffer(): BucketBuffer = new BucketBuffer(cap)

  override def update(buf: BucketBuffer, input: InternalRow): BucketBuffer = {
    val i = id.eval(input); val s = sz.eval(input)
    val r = rk.eval(input); val p = payload.eval(input)
    if (i != null && s != null && r != null && p != null)
      buf.add(i.asInstanceOf[Long], s.asInstanceOf[Int], r.asInstanceOf[Int],
        p.asInstanceOf[ArrayData].toLongArray())
    buf
  }

  override def merge(buf: BucketBuffer, other: BucketBuffer): BucketBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: BucketBuffer): Any = buf.toRow

  override def serialize(buf: BucketBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): BucketBuffer = BucketBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectBucketCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectBucketCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CollectBucketCapped =
    copy(id = newChildren(0), sz = newChildren(1), rk = newChildren(2),
      payload = newChildren(3))
  override def prettyName: String = "collect_bucket_capped"
}

/** Buffer for [[CollectBucketCapped]]: item list capped at `cap`, cleared on
  * overflow (total keeps counting so drops stay observable). */
final class BucketBuffer(val cap: Int) {
  var total: Long = 0L
  private var overflowed = false
  private val items = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Array[Long])]

  def add(id: Long, sz: Int, rk: Int, payload: Array[Long]): Unit = {
    total += 1
    if (!overflowed) {
      if (items.length < cap) items += ((id, sz, rk, payload))
      else { overflowed = true; items.clear() }
    }
  }

  def forceOverflow(): Unit = { overflowed = true; items.clear() }

  def mergeFrom(other: BucketBuffer): Unit = {
    total += other.total
    if (overflowed || other.overflowed) { overflowed = true; items.clear() }
    else other.items.foreach { it =>
      if (!overflowed) {
        if (items.length < cap) items += it
        else { overflowed = true; items.clear() }
      }
    }
  }

  def toRow: InternalRow = InternalRow(total, new GenericArrayData(
    items.map { case (id, sz, rk, p) =>
      InternalRow(id, sz, rk, new GenericArrayData(p))
    }.toArray[Any]))

  def toBytes: Array[Byte] = {
    var payloadLongs = 0
    items.foreach(payloadLongs += _._4.length)
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 1 + 4 + items.length * 20 + payloadLongs * 8)
    bb.putInt(cap).putLong(total).put(if (overflowed) 1.toByte else 0.toByte)
    bb.putInt(items.length)
    items.foreach { case (id, sz, rk, p) =>
      bb.putLong(id).putInt(sz).putInt(rk).putInt(p.length)
      p.foreach(bb.putLong)
    }
    bb.array()
  }
}

object BucketBuffer {
  def fromBytes(bytes: Array[Byte]): BucketBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new BucketBuffer(bb.getInt())
    val total = bb.getLong()
    val overflowed = bb.get() == 1.toByte
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      val id = bb.getLong(); val sz = bb.getInt(); val rk = bb.getInt()
      val p = new Array[Long](bb.getInt())
      var j = 0
      while (j < p.length) { p(j) = bb.getLong(); j += 1 }
      buf.add(id, sz, rk, p)
      i += 1
    }
    // restore counters exactly (adds above incremented total from zero)
    buf.total = total
    if (overflowed) buf.forceOverflow()
    buf
  }
}

object VecOps {
  /** Cosine similarity between a float-array column value and a query vector. */
  def cosine(a: ArrayData, q: Array[Float]): Double = {
    val n = math.min(a.numElements(), q.length)
    var dot = 0.0; var na = 0.0; var nq = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = q(i).toDouble
      dot += x * y; na += x * x; nq += y * y
      i += 1
    }
    if (na == 0.0 || nq == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nq))
  }

  def dot(a: ArrayData, q: Array[Float]): Double = {
    val n = math.min(a.numElements(), q.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * q(i).toDouble; i += 1 }
    s
  }

  /** Cosine between two float-array column values. */
  def cosinePair(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /**
   * Product-quantization encode: split the vector into `m` equal
   * subspaces; per subspace, the index of the codebook entry with the
   * smallest squared L2 distance (sequential-dimension accumulation, so
   * a SQL engine summing `(a[i]-b[i])^2` left to right reproduces the
   * exact double). Ties keep the FIRST (lowest) code index.
   * `codebooks(s)(c)` = code c of subspace s.
   */
  def pqEncode(a: ArrayData, codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val m = codebooks.length
    val sub = a.numElements() / m
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val codes = codebooks(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < codes.length) {
        val code = codes(c)
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = a.getFloat(s * sub + j).toDouble - code(j).toDouble
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Asymmetric-distance (ADC) score from PQ codes: Σ_s table(s)(code_s),
    * the classic precomputed query-to-code lookup (Jégou et al., TPAMI'11).
    * Sequential in s, so the SQL replay's per-subspace sum order matches. */
  def pqAdc(codes: ArrayData, table: Array[Array[Double]]): Double = {
    var s = 0
    var acc = 0.0
    val m = math.min(codes.numElements(), table.length)
    while (s < m) { acc += table(s)(codes.getInt(s)); s += 1 }
    acc
  }

  /** Index of the cosine-nearest centroid (IVF coarse quantization). */
  def nearestCentroid(a: ArrayData, centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val s = cosine(a, centroids(c))
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  /**
   * Indices of the `nProbe` centroids cosine-nearest `a`, in
   * (cosine DESC, index ASC) order — the multi-cell coarse probe of a
   * batch IVF join, evaluated scan-locally per query row. Successive
   * strict-argmax selection, so ties keep the LOWEST index: probing 1
   * cell returns exactly [[nearestCentroid]], and the order matches a
   * SQL `row_number() OVER (ORDER BY cos DESC, idx ASC)` replay.
   */
  def probeCells(a: ArrayData, centroids: Array[Array[Float]], nProbe: Int): ArrayData = {
    val n = centroids.length
    val scores = new Array[Double](n)
    var i = 0
    while (i < n) { scores(i) = cosine(a, centroids(i)); i += 1 }
    val m = math.min(nProbe, n)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](n)
    var r = 0
    while (r < m) {
      var best = -1
      var bs = Double.NegativeInfinity
      var c = 0
      while (c < n) {
        if (!taken(c) && scores(c) > bs) { bs = scores(c); best = c }
        c += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // Plane-component cache: u(p,j) depends only on (seed, p, j), never the
  // row, so regenerating it per vector would burn a mix64 + divide per
  // (band, plane, dim, ROW) — billions of redundant mixes once n-aware
  // tuning pushes band counts into the hundreds. Each executor JVM
  // materializes a plane matrix once per (seed, planes, dim) and every row
  // after that pays only the fused multiply-adds. Entries are small
  // (planes×dim doubles) but per-band seeds mean hundreds per query
  // configuration, so a long-lived executor serving many differently-seeded
  // queries is flushed at `planeCacheMax` entries (crude but sufficient:
  // a flush costs one re-derivation per live key, nanoseconds per row
  // amortized — an LRU's per-row lock contention would cost more).
  private val planeCacheMax = 1024
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Double]]()

  private def planeMatrix(seed: Long, planes: Int, dim: Int): Array[Double] = {
    if (planeCache.size > planeCacheMax) planeCache.clear()
    planeCache.computeIfAbsent((seed, planes, dim), { _ =>
      val m = new Array[Double](planes * dim)
      var p = 0
      while (p < planes) {
        var j = 0
        while (j < dim) {
          val u = TextCore.mix64(seed ^ (p.toLong * 0x9E3779B97F4A7C15L) ^ (j.toLong * 0xC2B2AE3D27D4EB4FL))
          m(p * dim + j) = u.toDouble / Long.MaxValue.toDouble
          j += 1
        }
        p += 1
      }
      m
    })
  }

  /**
   * Random-hyperplane LSH bucket (Charikar, STOC'02 SimHash for cosine):
   * bit p = sign(Σ_j v_j · u(p,j)) with pseudo-random plane components
   * u(p,j) ∈ [-1,1] derived deterministically from (seed, p, j) — no
   * broadcast of plane matrices needed, any executor regenerates them
   * (once per JVM, via [[planeMatrix]] — bit-identical to the original
   * per-row derivation).
   */
  def signBucket(a: ArrayData, planes: Int, seed: Long): Long = {
    val n = a.numElements()
    val m = planeMatrix(seed, planes, n)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var dotP = 0.0
      val off = p * n
      var j = 0
      while (j < n) {
        dotP += a.getFloat(j).toDouble * m(off + j)
        j += 1
      }
      if (dotP > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** All `bands` sign-buckets in one pass: band i uses independent planes
    * via seed + i*1000003 (identical to calling [[signBucket]] per band —
    * kept bit-compatible so existing results are reproducible). One
    * expression evaluation instead of `bands` separate Catalyst nodes,
    * which matters once corpus-size-aware tuning pushes band counts into
    * the hundreds (codegen would otherwise blow the method-size limit). */
  def signBands(a: ArrayData, bands: Int, planes: Int, seed: Long): ArrayData = {
    val out = new Array[Long](bands)
    var i = 0
    while (i < bands) {
      out(i) = signBucket(a, planes, seed + i.toLong * 1000003L)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** vec_nearest_centroid(embedding) → int index of the nearest (by cosine)
  * centroid in a constant codebook — the IVF coarse quantizer. */
case class VecNearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_nearest_centroid"
  override protected def nullSafeEval(a: Any): Any =
    VecOps.nearestCentroid(a.asInstanceOf[ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("graftCentroids", centroids, "float[][]")
    defineCodeGen(ctx, ev, a => s"org.apache.spark.sql.graft.VecOps.nearestCentroid($a, $cRef)")
  }
  override protected def withNewChildInternal(c: Expression): VecNearestCentroid = copy(child = c)
}

/** vec_probe_cells(embedding) → array<int>: indices of the `nProbe`
  * cosine-nearest centroids in a constant codebook, (cosine DESC, index
  * ASC) order — the per-row coarse probe of a batch IVF join. */
case class VecProbeCells(child: Expression, centroids: Array[Array[Float]], nProbe: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_probe_cells"
  override protected def nullSafeEval(a: Any): Any =
    VecOps.probeCells(a.asInstanceOf[ArrayData], centroids, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("graftProbeCentroids", centroids, "float[][]")
    defineCodeGen(ctx, ev,
      a => s"org.apache.spark.sql.graft.VecOps.probeCells($a, $cRef, $nProbe)")
  }
  override protected def withNewChildInternal(c: Expression): VecProbeCells = copy(child = c)
}

/** pq_encode(embedding) → array<int>: per-subspace nearest-code indices
  * against a constant codebook set (product quantization, Jégou et al.). */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(a: Any): Any =
    VecOps.pqEncode(a.asInstanceOf[ArrayData], codebooks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("graftPqCodebooks", codebooks, "float[][][]")
    defineCodeGen(ctx, ev, a => s"org.apache.spark.sql.graft.VecOps.pqEncode($a, $cb)")
  }
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

/** pq_adc(codes) → double: asymmetric-distance score via a constant
  * per-query lookup table (precomputed query-to-code distances). */
case class PqAdcConst(child: Expression, table: Array[Array[Double]])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc"
  override protected def nullSafeEval(a: Any): Any =
    VecOps.pqAdc(a.asInstanceOf[ArrayData], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("graftPqTable", table, "double[][]")
    defineCodeGen(ctx, ev, a => s"org.apache.spark.sql.graft.VecOps.pqAdc($a, $t)")
  }
  override protected def withNewChildInternal(c: Expression): PqAdcConst = copy(child = c)
}

/** vec_cosine_const(embedding) → double cosine vs a constant query vector. */
case class VecCosineConst(child: Expression, query: Array[Float])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_cosine_const"
  override protected def nullSafeEval(a: Any): Any =
    VecOps.cosine(a.asInstanceOf[ArrayData], query)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val q = ctx.addReferenceObj("graftQueryVec", query, "float[]")
    defineCodeGen(ctx, ev, a => s"org.apache.spark.sql.graft.VecOps.cosine($a, $q)")
  }
  override protected def withNewChildInternal(c: Expression): VecCosineConst = copy(child = c)
}

/**
 * Serializable per-plan holder for BPE tokenization state: ships only the
 * BROADCAST handle to the merges table; the rank map and the word→tokens
 * memo cache are built lazily once per executor JVM (both are shared by
 * every task of every stage that references the expression). This is the
 * "driven by a broadcast merges/vocab table" contract: a production-sized
 * merges table (~50k rows) crosses the wire once per executor, not once
 * per task serialization.
 */
class BpeState(val merges: Broadcast[Array[(String, String)]],
               val byteLevel: Boolean = false) extends Serializable {
  @transient private lazy val ranks = graft.text.BpeCore.buildRanks(merges.value.toSeq)
  @transient private lazy val formed = graft.text.BpeCore.buildFormedIds(merges.value.toSeq)
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  def count(text: String): Int =
    graft.text.BpeCore.countText(text, ranks, cache, byteLevel)
  def tokens(text: String): Array[String] =
    graft.text.BpeCore.tokenizeText(text, ranks, cache, byteLevel)
  def ids(text: String): Array[Long] =
    graft.text.BpeCore.idsText(text, ranks, formed, cache, byteLevel)
  def decode(ids: ArrayData): UTF8String =
    UTF8String.fromString(graft.text.BpeCore.decodeIds(
      ids.toLongArray(), merges.value, byteLevel))
  def chunks(text: String, maxTokens: Long): Array[String] =
    graft.text.BpeCore.chunkText(text, ranks, cache, maxTokens, byteLevel)
}

/** bpe_token_count(text) → int: REAL merges-table BPE token count (see
  * [[graft.text.BpeCore]] for the deterministic cross-engine contract).
  * The tokenizer-truth denominator for packing/chunking/mixing budgets. */
case class BpeTokenCount(child: Expression, state: BpeState)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_token_count"
  override protected def nullSafeEval(text: Any): Any = state.count(text.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeState", state, classOf[BpeState].getName)
    defineCodeGen(ctx, ev, t => s"$ref.count($t.toString())")
  }
  override protected def withNewChildInternal(c: Expression): BpeTokenCount = copy(child = c)
}

/** bpe_tokens(text) → array<string>: the token strings themselves, in
  * document order (pre-tokens concatenated) — for vocab audits and the
  * gate's sequence-level hash check. */
case class BpeTokens(child: Expression, state: BpeState)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_tokens"
  override protected def nullSafeEval(text: Any): Any =
    new GenericArrayData(state.tokens(text.toString).map(UTF8String.fromString(_): Any))
  override protected def withNewChildInternal(c: Expression): BpeTokens = copy(child = c)
}

/** bpe_chunks(text) → array<string>: slice text into ~maxTokens-token
  * chunks at pre-token boundaries (the conveyor cut rule — see
  * [[graft.text.BpeCore.chunkText]]). Chunks concatenate back to the
  * input; one scan-local pass, the 100 TB training-window shape. */
case class BpeChunks(child: Expression, state: BpeState, maxTokens: Long)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_chunks"
  override protected def nullSafeEval(text: Any): Any =
    new GenericArrayData(state.chunks(text.toString, maxTokens)
      .map(UTF8String.fromString(_): Any))
  override protected def withNewChildInternal(c: Expression): BpeChunks = copy(child = c)
}

/** bpe_detokenize(ids) → string: decode a vocab-id sequence back to text —
  * the exact inverse of bpe_token_ids (see [[graft.text.BpeCore.decodeIds]];
  * lossless: decode(encode(t)) == t because the pre-token regex partitions
  * every input). The sampling-side half of the tokenizer surface: model
  * outputs land as id sequences and detokenize on the way back to the lake.
  * Scan-local and codegen'd; ids outside the table's space fail loudly. */
case class BpeDetokenize(child: Expression, state: BpeState)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_detokenize"
  override protected def nullSafeEval(ids: Any): Any =
    state.decode(ids.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeState", state, classOf[BpeState].getName)
    defineCodeGen(ctx, ev, t => s"$ref.decode($t)")
  }
  override protected def withNewChildInternal(c: Expression): BpeDetokenize = copy(child = c)
}

/** bpe_token_ids(text) → array<long>: vocab ids in document order — the
  * format a trainer actually consumes (codepoint for single-codepoint
  * tokens, 0x110000 + first forming rank for merge outputs; see
  * [[graft.text.BpeCore.buildFormedIds]]). */
case class BpeTokenIds(child: Expression, state: BpeState)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_token_ids"
  override protected def nullSafeEval(text: Any): Any =
    new GenericArrayData(state.ids(text.toString))
  override protected def withNewChildInternal(c: Expression): BpeTokenIds = copy(child = c)
}

/**
 * Serializable per-plan holder for unigram-LM scoring state: ships only the
 * BROADCAST handle to the (token, cost) vocabulary; the lookup map is built
 * lazily once per executor JVM. Costs are INTEGER bits (log2-rank
 * surprisal, or any externally-supplied integer cost column — e.g. a KenLM
 * vocabulary quantized to milli-nats), so scoring is exact cross-engine:
 * no float log is ever evaluated at scoring time.
 */
class LmState(val vocab: Broadcast[Array[(String, Long)]],
              val oovCost: Long) extends Serializable {
  // value type must stay boxed: a primitive-Long map would auto-unbox the
  // null returned for absent keys to 0, silently making OOV tokens free
  @transient private lazy val costs: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](vocab.value.length * 2)
    vocab.value.foreach { case (t, c) => m.put(t, java.lang.Long.valueOf(c)) }
    m
  }
  /** Σ cost(token) over an array of tokens; unknown tokens pay oovCost. */
  def costSum(tokens: ArrayData): Long = {
    var s = 0L
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val t = tokens.getUTF8String(i).toString
      val c = costs.get(t)
      s += (if (c == null) oovCost else c.longValue())
      i += 1
    }
    s
  }
}

/**
 * Hashed-feature LINEAR classifier state — the fastText-style quality
 * classifier shape (Joulin et al. 2016; hashing trick per Weinberger et
 * al. ICML'09): score = bias + Σ over features of W[bucket(feature)],
 * features = unigrams + adjacent-token bigrams, bucket = the first 32
 * bits of md5(feature) mod numBuckets (32 bits so every bucket of even a
 * multi-million-slot table is reachable). Weights are INTEGER (train
 * elsewhere, quantize to milli-units on import), so scores are exact in
 * any engine that can replay md5-bucket arithmetic — DuckDB does it with
 * CAST('0x'||substr(md5(f),1,8) AS BIGINT). Ships only the broadcast
 * handle; the dense weight array crosses the wire once per executor.
 */
class HashedLinearState(val weights: Broadcast[Array[Long]],
                        val bias: Long) extends Serializable {
  private def bucketOf(md: java.security.MessageDigest, w: Array[Long], f: String): Int = {
    val d = md.digest(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (h % w.length).toInt
  }
  /** bias + Σ W[bucket(unigram)] + Σ W[bucket(prev ++ " " ++ cur)]. */
  def score(tokens: ArrayData): Long = {
    val w = weights.value
    val md = java.security.MessageDigest.getInstance("MD5")
    var s = bias
    var prev: String = null
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val t = tokens.getUTF8String(i).toString
      s += w(bucketOf(md, w, t))
      if (prev != null) s += w(bucketOf(md, w, prev + " " + t))
      prev = t
      i += 1
    }
    s
  }
}

/** hashed_linear_score(tokens) → bigint: integer linear-classifier score of
  * a token array under a broadcast hashed weight table (see
  * [[HashedLinearState]]). Scan-local and codegen'd — the 100 TB
  * quality-filter shape: the model crosses the wire once per executor,
  * the corpus never shuffles, and the filter composes with the scan. */
case class HashedLinearScore(child: Expression, state: HashedLinearState)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_linear_score"
  override protected def nullSafeEval(tokens: Any): Any =
    state.score(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clfState", state, classOf[HashedLinearState].getName)
    defineCodeGen(ctx, ev, t => s"$ref.score($t)")
  }
  override protected def withNewChildInternal(c: Expression): HashedLinearScore = copy(child = c)
}

/** lm_cost_sum(tokens) → bigint: total integer surprisal of a token array
  * under a broadcast unigram cost table (OOV tokens pay the table's OOV
  * cost). Scan-local and codegen'd — the 100 TB perplexity-filter shape:
  * vocabulary crosses the wire once per executor, corpus never shuffles. */
case class LmCostSum(child: Expression, state: LmState)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lm_cost_sum"
  override protected def nullSafeEval(tokens: Any): Any =
    state.costSum(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmState", state, classOf[LmState].getName)
    defineCodeGen(ctx, ev, t => s"$ref.costSum($t)")
  }
  override protected def withNewChildInternal(c: Expression): LmCostSum = copy(child = c)
}

/**
 * BIGRAM-backoff LM scoring state — one rung up the KenLM ladder from
 * [[LmState]]: a token after context `prev` pays the bigram cost when
 * `prev ++ " " ++ cur` is in the bigram table, else a fixed integer
 * backoff penalty plus its unigram cost (Katz-style backoff with the
 * discount folded into one integer — the quantization every integer-cost
 * import applies anyway). The first token of a document has no context
 * and pays its unigram cost. All costs are INTEGER, so scores replay
 * exactly cross-engine. Same broadcast discipline as [[LmState]]: maps
 * are built lazily once per executor JVM; values stay boxed (a primitive
 * map would unbox absent-key nulls to 0 — free OOV tokens).
 */
class BigramLmState(val uni: Broadcast[Array[(String, Long)]],
                    val bi: Broadcast[Array[(String, Long)]],
                    val oovCost: Long, val backoffCost: Long) extends Serializable {
  @transient private lazy val uniM: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](uni.value.length * 2)
    uni.value.foreach { case (t, c) => m.put(t, java.lang.Long.valueOf(c)) }
    m
  }
  @transient private lazy val biM: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](bi.value.length * 2)
    bi.value.foreach { case (p, c) => m.put(p, java.lang.Long.valueOf(c)) }
    m
  }
  def costSum(tokens: ArrayData): Long = {
    var s = 0L
    var prev: String = null
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val t = tokens.getUTF8String(i).toString
      val u = uniM.get(t)
      val uc = if (u == null) oovCost else u.longValue()
      if (prev == null) s += uc
      else {
        val b = biM.get(prev + " " + t)
        s += (if (b == null) backoffCost + uc else b.longValue())
      }
      prev = t
      i += 1
    }
    s
  }
}

/** bigram_lm_cost_sum(tokens) → bigint: total integer surprisal under a
  * broadcast bigram-backoff LM (see [[BigramLmState]]). Scan-local and
  * codegen'd; both tables cross the wire once per executor. */
case class BigramLmCostSum(child: Expression, state: BigramLmState)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bigram_lm_cost_sum"
  override protected def nullSafeEval(tokens: Any): Any =
    state.costSum(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bigramLmState", state, classOf[BigramLmState].getName)
    defineCodeGen(ctx, ev, t => s"$ref.costSum($t)")
  }
  override protected def withNewChildInternal(c: Expression): BigramLmCostSum = copy(child = c)
}
