// Same packaging rationale as expressions.scala: Catalyst-private types.
package org.apache.spark.sql.graft

import graft.geo.Geohash
import graft.text.TextCore
import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * One stateless SQL function: a static `method` of the Scala object
 * `target` that takes and returns Catalyst values (`UTF8String`,
 * `ArrayData`, `InternalRow`, primitives) in the order of `inputTypes`.
 * Rows of [[SqlFunctions]]; `apply` builds a Column, `expr` an Expression.
 */
final case class SqlFn(name: String, target: Class[_], method: String,
                       inputTypes: Seq[AbstractDataType], returnType: DataType) {
  def expr(es: Expression*): Expression = {
    require(es.length == inputTypes.length,
      s"$name takes ${inputTypes.length} arguments, got ${es.length}")
    SqlFnCall(this, es)
  }
  def apply(cols: Column*): Column =
    GraftShims.column(expr(cols.map(GraftShims.expression): _*))
}

/**
 * A call of one [[SqlFn]] row. The optimizer replaces it with a
 * `StaticInvoke` of the row's method, which gives whole-stage codegen and
 * interpreted eval from one declaration; any null argument yields null.
 * Column names and explain output read `name(args)`, as Spark's own
 * functions do.
 */
case class SqlFnCall(fn: SqlFn, children: Seq[Expression])
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override lazy val replacement: Expression = StaticInvoke(fn.target, fn.returnType,
    fn.method, children, fn.inputTypes, propagateNull = true, returnNullable = false)
  override def inputTypes: Seq[AbstractDataType] = fn.inputTypes
  override def prettyName: String = fn.name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SqlFnCall = copy(children = newChildren)
}

/**
 * The stateless SQL functions, one row each. Every row is registered as a
 * SQL function by [[GraftExtensions]] and `graft.sql.functions.registerAll`;
 * Scala call sites use the row directly (`SqlFunctions.sigBands(col, lit(16))`).
 * Expressions that carry broadcast or model state, generators, aggregates
 * and `st_covers_wkt` (which the pruning rule matches) stay hand-written.
 */
object SqlFunctions {
  private val K = SqlKernels.getClass
  private val S = StringType
  private val I = IntegerType
  private val L = LongType
  private val D = DoubleType
  private val longs = ArrayType(LongType)
  private val floats = ArrayType(FloatType)
  private val longArray = ArrayType(LongType, containsNull = false)
  private val stringArray = ArrayType(StringType, containsNull = false)

  // ---- geohash (the reference's rowkey derivation, Ingest.java:75-77)

  /** geohash_encode(lat, lon, precision) → base32 string (reference rowkey: 12 chars). */
  val geohashEncode = SqlFn("geohash_encode", K, "geohashEncode", Seq(D, D, I), S)
  /** geohash_decode(gh) → struct(lat double, lon double): the cell center. */
  val geohashDecode = SqlFn("geohash_decode", K, "geohashDecode", Seq(S),
    StructType(Seq(StructField("lat", DoubleType), StructField("lon", DoubleType))))
  /** geohash_neighbors(gh) → array of the up-to-8 adjacent cells. */
  val geohashNeighbors = SqlFn("geohash_neighbors", K, "geohashNeighbors", Seq(S), stringArray)
  /** geohash_cell_neighbors(lat, lon, precision) → array of the point's cell
    * plus its 8 adjacent cells (the spatial-join probe key set). */
  val geohashCellNeighbors =
    SqlFn("geohash_cell_neighbors", K, "geohashCellNeighbors", Seq(D, D, I), stringArray)

  // ---- minhash / simhash / n-gram similarity

  /** minhash_sig(text, numHashes, shingleSize) → array<long> full signature. */
  val minhashSig = SqlFn("minhash_sig", K, "minhashSig", Seq(S, I, I), longArray)
  /** minhash_sig_words(text, numHashes, nWords) → array<long>: MinHash
    * signature over WORD shingles — the published near-dup unit
    * (Gopher/MassiveText 13-word shingles), same affine construction as
    * `minhash_sig` so bands/estimates share machinery. */
  val minhashSigWords = SqlFn("minhash_sig_words", K, "minhashSigWords", Seq(S, I, I), longArray)
  /** sig_bands(sig, bands) → array<long> band keys from a precomputed
    * minhash signature (so the signature is hashed once, not once per use);
    * band b's key mixes its slots, salted with b. */
  val sigBands = SqlFn("sig_bands", K, "sigBands", Seq(longs, I), longArray)
  /** sig_jaccard(sigA, sigB) → double: estimated Jaccard from two equal-length
    * minhash signatures (fraction of matching slots). */
  val sigJaccard = SqlFn("sig_jaccard", K, "sigJaccard", Seq(longs, longs), D)
  /** simhash64(text, shingleSize) → long. */
  val simhash64 = SqlFn("simhash64", K, "simhash64", Seq(S, I), L)
  /** ngram_jaccard(a, b, n) → double: exact char-n-gram Jaccard similarity. */
  val ngramJaccard = SqlFn("ngram_jaccard", K, "ngramJaccard", Seq(S, S, I), D)
  /** word_ngram_jaccard(a, b, nWords) → double: exact word-n-gram Jaccard. */
  val wordNgramJaccard = SqlFn("word_ngram_jaccard", K, "wordNgramJaccard", Seq(S, S, I), D)
  /** winnow_fingerprint(text, shingleSize, window) → array<long>: winnowing
    * document fingerprint set (sorted). */
  val winnowFingerprint =
    SqlFn("winnow_fingerprint", K, "winnowFingerprint", Seq(S, I, I), longArray)

  // ---- text normalization and grams

  /** lang_id(text) → string: heuristic language code (script + stopword vote). */
  val langId = SqlFn("lang_id", K, "langId", Seq(S), S)
  /** nfc_normalize(text) → string: Unicode NFC (canonical composition) via
    * `java.text.Normalizer` — the same Unicode algorithm DuckDB's
    * nfc_normalize and Python's unicodedata implement, so normalized text
    * (and anything hashed from it) is identical across engines. The
    * already-normalized fast path (`isNormalized`, a scan without
    * allocation) makes the common ASCII/NFC corpus essentially free. */
  val nfcNormalize = SqlFn("nfc_normalize", K, "nfc", Seq(S), S)
  /** aligned_gram_md5s(text, minLen) → array<binary>: distinct raw md5
    * digests of the word-aligned minLen-char grams (see
    * [[graft.text.TextCore.alignedGramMd5s]]) — the one-pass unit of exact
    * repeated-substring detection; 128-bit digests make digest-grouping
    * equal to gram-grouping at any scale. */
  val alignedGramMd5s = SqlFn("aligned_gram_md5s", K, "alignedGramMd5s", Seq(S, I),
    ArrayType(BinaryType, containsNull = false))
  /** aligned_gram_pos_md5s(text, minLen) → array<struct<pos:int, g:binary>>:
    * one (start offset, md5) entry per word-aligned gram occurrence —
    * duplicates KEPT (unlike `aligned_gram_md5s`), because span-coverage
    * dedup needs every position a shared gram occupies, not the distinct
    * gram set. */
  val alignedGramPosMd5s = SqlFn("aligned_gram_pos_md5s", K, "alignedGramPosMd5s", Seq(S, I),
    ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("g", BinaryType, nullable = false))), containsNull = false))
  /** token_ngrams(text, n) → array<string>: distinct lowercase-alphanumeric
    * token n-grams joined by single spaces (see
    * [[graft.text.TextCore.tokenNgrams]]) — string-exact with the SQL
    * tokenize/slice/concat derivation, at one pass instead of a
    * per-gram slice+concat expression tree. */
  val tokenNgrams = SqlFn("token_ngrams", K, "tokenNgrams", Seq(S, I), stringArray)
  /** token_ngrams_all(text, n) → array<string>: ALL ordered token n-grams,
    * duplicates preserved (posexplode index = starting token position; see
    * [[graft.text.TextCore.tokenNgramsAll]]) — the repetition-counting
    * sibling of `token_ngrams`. */
  val tokenNgramsAll = SqlFn("token_ngrams_all", K, "tokenNgramsAll", Seq(S, I), stringArray)
  /** shingle_hashes(text, n) → array<long>: the distinct hashed character
    * n-grams of the text as one array value — the per-document gram SET for
    * set-similarity pipelines that need it row-shaped (e.g. prefix-filtered
    * exact Jaccard joins), complementing the row-exploding `explode_shingles`. */
  val shingleHashes = SqlFn("shingle_hashes", K, "shingleHashes", Seq(S, I), longArray)
  /** word_shingle_hashes(text, n) → array<long>: the SORTED DISTINCT hashed
    * word n-grams of the text ([a-z]+ lowercase tokens; texts shorter than n
    * tokens contribute ONE whole-text gram — the shared short-text
    * convention) — the word-unit twin of `shingle_hashes`, for set
    * pipelines on the published 13-word gram (decontamination, word-level
    * containment). */
  val wordShingleHashes =
    SqlFn("word_shingle_hashes", K, "wordShingleHashes", Seq(S, I), longArray)

  // ---- set verify kernels over sorted long arrays

  /** sorted_jaccard(a, b) → double: exact Jaccard of two SORTED long-hash
    * arrays (sort-merge intersection). Bit-identical to `ngram_jaccard` on
    * the texts the arrays were shingled from, without re-shingling per pair. */
  val sortedJaccard = SqlFn("sorted_jaccard", K, "sortedJaccard", Seq(longs, longs), D)
  /** sorted_jaccard_at_least(a, b, t) → double: exact Jaccard if ≥ t, else
    * -1.0 via threshold-aware early abandon. The verify-stage workhorse when
    * candidates vastly outnumber matches; reads ArrayData in place. */
  val sortedJaccardAtLeast = SqlFn("sorted_jaccard_at_least", TextOps.getClass,
    "sortedJaccardAtLeast", Seq(longs, longs, D), D)
  /** sorted_intersect_at_least(a, b, need) → long: exact |A ∩ B| if ≥ need,
    * else -1 via the remaining-element early abandon. Containment-join
    * verify kernel; reads ArrayData in place. */
  val sortedIntersectAtLeast = SqlFn("sorted_intersect_at_least", TextOps.getClass,
    "sortedIntersectAtLeast", Seq(longs, longs, I), L)

  // ---- vectors

  /** vec_cosine(a, b) → double cosine between two float-array columns. */
  val vecCosine = SqlFn("vec_cosine", VecOps.getClass, "cosinePair", Seq(floats, floats), D)
  /** vec_lsh_bucket(vec, planes, seed) → long: random-hyperplane cosine-LSH bucket. */
  val vecLshBucket = SqlFn("vec_lsh_bucket", VecOps.getClass, "signBucket", Seq(floats, I, L), L)
  /** vec_lsh_bands(vec, bands, planes, seed) → array<long>: one
    * random-hyperplane bucket per band, independent planes per band. */
  val vecLshBands =
    SqlFn("vec_lsh_bands", VecOps.getClass, "signBands", Seq(floats, I, I, L), longArray)

  // ---- ordering keys and walks

  /** double_sortable_bits(d) → long: total-order-preserving long encoding of
    * ANY double, so a double ordering key (a distance, a score — including
    * negative scores) can ride the long-typed [[TopNByOrd]] heap unchanged.
    * Raw IEEE 754 bits already order non-negative doubles and place
    * negatives below them, but inverted among themselves; XOR-ing with
    * `(bits >> 63) & Long.MaxValue` flips the magnitude bits of negatives
    * only, restoring a total order (and -0.0 < +0.0). The transform is its
    * own inverse, which `sortable_bits_to_double` exploits. */
  val doubleSortableBits = SqlFn("double_sortable_bits", K, "doubleSortableBits", Seq(D), L)
  /** sortable_bits_to_double(l) → double: inverse of `double_sortable_bits`. */
  val sortableBitsToDouble = SqlFn("sortable_bits_to_double", K, "sortableBitsToDouble", Seq(L), D)
  /** node2vec_choose(nbrs, prev_nbrs, prev, hash, returnPermille, farPermille)
    * → long: the biased-walk neighbor pick over id-sorted adjacency arrays
    * (weights return/near/far = returnPermille/1000/farPermille; see
    * [[WalkOps.node2vecChoose]]). */
  val node2vecChoose = SqlFn("node2vec_choose", WalkOps.getClass, "node2vecChoose",
    Seq(longs, longs, L, L, L, L), L)

  val all: Seq[SqlFn] = Seq(geohashEncode, geohashDecode, geohashNeighbors,
    geohashCellNeighbors, minhashSig, minhashSigWords, sigBands, sigJaccard, simhash64,
    ngramJaccard, wordNgramJaccard, winnowFingerprint, langId, nfcNormalize,
    alignedGramMd5s, alignedGramPosMd5s, tokenNgrams, tokenNgramsAll, shingleHashes,
    wordShingleHashes, sortedJaccard, sortedJaccardAtLeast, sortedIntersectAtLeast,
    vecCosine, vecLshBucket, vecLshBands, doubleSortableBits, sortableBitsToDouble,
    node2vecChoose)
}

/** Static entry points of the [[SqlFunctions]] rows that adapt a
  * String/Array kernel to Catalyst values. */
object SqlKernels {
  private def strings(a: Array[String]): ArrayData =
    new GenericArrayData(a.map(UTF8String.fromString).asInstanceOf[Array[Any]])

  def geohashEncode(lat: Double, lon: Double, precision: Int): UTF8String =
    UTF8String.fromString(Geohash.encode(lat, lon, precision))
  def geohashDecode(gh: UTF8String): InternalRow = {
    val (lat, lon) = Geohash.decodeCenter(gh.toString)
    InternalRow(lat, lon)
  }
  def geohashNeighbors(gh: UTF8String): ArrayData = strings(Geohash.neighbors(gh.toString).toArray)
  def geohashCellNeighbors(lat: Double, lon: Double, precision: Int): ArrayData =
    strings(Geohash.cellAndNeighbors(lat, lon, precision).toArray)

  def minhashSig(text: UTF8String, numHashes: Int, shingle: Int): ArrayData =
    new GenericArrayData(TextCore.minhash(text.toString, numHashes, shingle))
  def minhashSigWords(text: UTF8String, numHashes: Int, n: Int): ArrayData =
    new GenericArrayData(TextCore.minhashWords(text.toString, numHashes, n))
  def sigBands(sig: ArrayData, bands: Int): ArrayData =
    new GenericArrayData(TextCore.sigBands(sig.toLongArray(), bands))
  def sigJaccard(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }
  def simhash64(text: UTF8String, shingle: Int): Long =
    TextCore.simhash64(text.toString, shingle)
  def ngramJaccard(a: UTF8String, b: UTF8String, n: Int): Double =
    TextCore.ngramJaccard(a.toString, b.toString, n)
  def wordNgramJaccard(a: UTF8String, b: UTF8String, n: Int): Double =
    TextCore.wordNgramJaccard(a.toString, b.toString, n)
  def winnowFingerprint(text: UTF8String, shingle: Int, window: Int): ArrayData =
    new GenericArrayData(TextCore.winnow(text.toString, shingle, window))

  def langId(text: UTF8String): UTF8String =
    UTF8String.fromString(TextCore.langId(text.toString))
  def nfc(s: UTF8String): UTF8String = {
    import java.text.Normalizer
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
  def alignedGramMd5s(text: UTF8String, minLen: Int): ArrayData =
    new GenericArrayData(TextCore.alignedGramMd5s(text.toString, minLen).asInstanceOf[Array[Any]])
  def alignedGramPosMd5s(text: UTF8String, minLen: Int): ArrayData = {
    val s = text.toString
    val starts = TextCore.alignedGramStarts(s, minLen)
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = new Array[Any](starts.length)
    var k = 0
    while (k < starts.length) {
      val i = starts(k)
      rows(k) = InternalRow(i, md.digest(s.substring(i, i + minLen)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      k += 1
    }
    new GenericArrayData(rows)
  }
  def tokenNgrams(text: UTF8String, n: Int): ArrayData =
    strings(TextCore.tokenNgrams(text.toString, n))
  def tokenNgramsAll(text: UTF8String, n: Int): ArrayData =
    strings(TextCore.tokenNgramsAll(text.toString, n))
  def shingleHashes(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(TextCore.shingleHashes(text.toString, n))
  def wordShingleHashes(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(TextCore.wordShingleHashes(text.toString, n))
  def sortedJaccard(a: ArrayData, b: ArrayData): Double =
    TextCore.sortedJaccard(a.toLongArray(), b.toLongArray())

  def doubleSortableBits(d: Double): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    bits ^ ((bits >> 63) & Long.MaxValue)
  }
  def sortableBitsToDouble(s: Long): Double =
    java.lang.Double.longBitsToDouble(s ^ ((s >> 63) & Long.MaxValue))
}
