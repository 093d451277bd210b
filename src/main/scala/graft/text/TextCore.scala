package graft.text

/**
 * Pure-Scala text hashing/fingerprinting primitives for the training-data
 * pipeline operators (dedup, similarity, language-ID). All deterministic,
 * allocation-light, callable from Catalyst expression eval and codegen.
 *
 * Hashing scheme: polynomial rolling hash over chars per shingle, finalized
 * with the SplitMix64 mixer (public-domain constant set, Steele et al.,
 * "Fast Splittable Pseudorandom Number Generators", OOPSLA 2014).
 */
object TextCore {

  /** SplitMix64 finalizer — high-quality 64-bit bit mixer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /**
   * Distinct hashed character n-gram shingles of `text`. Open-addressing
   * primitive table (0 = empty sentinel, zero hash tracked separately) —
   * no boxing in the hottest loop of corpus-scale dedup.
   */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val len = text.length
    if (len < n) {
      if (len == 0) return Array.empty
      return Array(mix64(polyHash(text, 0, len)))
    }
    val m = len - n + 1
    var cap = 8
    while (cap < m * 2) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    var zeroSeen = false
    var count = 0
    var i = 0
    while (i < m) {
      val h = mix64(polyHash(text, i, n))
      if (h == 0L) {
        if (!zeroSeen) { zeroSeen = true; count += 1 }
      } else {
        var idx = (h & mask).toInt
        while (table(idx) != 0L && table(idx) != h) idx = (idx + 1) & mask
        if (table(idx) == 0L) { table(idx) = h; count += 1 }
      }
      i += 1
    }
    val out = new Array[Long](count)
    var k = 0
    if (zeroSeen) { out(k) = 0L; k += 1 }
    var j = 0
    while (j < cap) {
      if (table(j) != 0L) { out(k) = table(j); k += 1 }
      j += 1
    }
    out
  }

  private def polyHash(s: String, from: Int, len: Int): Long = {
    var h = 1125899906842597L // prime
    var i = from
    val end = from + len
    while (i < end) { h = 31 * h + s.charAt(i); i += 1 }
    h
  }

  // Per-slot affine transforms (a_i, b_i) of the shingle hash — the standard
  // "k approximate permutations from one base hash" construction. Cached per
  // numHashes; a_i forced odd so the map is a bijection mod 2^64.
  private val abCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def affineParams(numHashes: Int): (Array[Long], Array[Long]) =
    abCache.computeIfAbsent(numHashes, { n =>
      val a = new Array[Long](n); val b = new Array[Long](n)
      var i = 0
      while (i < n) {
        a(i) = mix64(0xA11CE5EEDL + i) | 1L
        b(i) = mix64(0xB0B5EED00L - i)
        i += 1
      }
      (a, b)
    })

  /**
   * MinHash signature: numHashes approximate permutations h_i(x) = a_i·x+b_i
   * over the shingle hashes (one multiply+add per slot — the hot loop of
   * corpus-scale dedup). Empty text → all Long.MaxValue.
   */
  def minhash(text: String, numHashes: Int, shingleSize: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val shingles = shingleHashes(text, shingleSize)
    val (a, b) = affineParams(numHashes)
    var s = 0
    while (s < shingles.length) {
      val base = shingles(s)
      var i = 0
      while (i < numHashes) {
        val h = a(i) * base + b(i)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      s += 1
    }
    sig
  }

  /** Band keys from a full signature (salted per band). */
  def sigBands(sig: Array[Long], bands: Int): Array[Long] = {
    require(bands > 0 && sig.length % bands == 0,
      s"numHashes=${sig.length} not divisible by bands=$bands")
    val r = sig.length / bands
    val out = new Array[Long](bands)
    var bnd = 0
    while (bnd < bands) {
      var h = mix64(bnd.toLong)
      var i = bnd * r
      val end = i + r
      while (i < end) { h = mix64(h ^ sig(i)); i += 1 }
      out(bnd) = h
      bnd += 1
    }
    out
  }

  /** 64-bit SimHash over hashed character shingles. */
  def simhash64(text: String, shingleSize: Int): Long = {
    val counts = new Array[Int](64)
    val shingles = shingleHashes(text, shingleSize)
    var s = 0
    while (s < shingles.length) {
      val h = shingles(s)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      s += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Exact Jaccard similarity of the two texts' character-n-gram sets
    * (sort-merge intersection over the already-distinct hash arrays). */
  def ngramJaccard(a: String, b: String, n: Int): Double = {
    val sa = shingleHashes(a, n)
    val sb = shingleHashes(b, n)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    if (sa.isEmpty || sb.isEmpty) return 0.0
    java.util.Arrays.sort(sa)
    java.util.Arrays.sort(sb)
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (sa.length + sb.length - inter)
  }

  /**
   * Distinct hashed WORD n-gram shingles — the published near-dup unit
   * (Gopher/MassiveText and SlimPajama shingle on 13 WORDS, not chars;
   * char shingles catch byte-level mirrors, word shingles catch
   * token-level rewrites and are robust to whitespace/punctuation noise).
   * Words = maximal [a-z]+ runs of the ASCII-lowercased text — exactly
   * the corpus tokenizer every text gate shares, so any engine rebuilds
   * the same token stream. Each window hashes as the polynomial hash of
   * its tokens joined by a single space (no string is built), SplitMix64-
   * finalized. Fewer than n tokens → ONE shingle of all tokens (the
   * char-shingle short-text convention); zero tokens → empty.
   * Returns SORTED distinct hashes — directly mergeable by
   * [[sortedJaccard]].
   */
  def wordShingleHashes(text: String, n: Int): Array[Long] = {
    val len = text.length
    // token bounds: flattened (start, end) pairs of lowercase [a-z]+ runs
    val bounds = new scala.collection.mutable.ArrayBuffer[Int](32)
    var i = 0
    while (i < len) {
      var c = text.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      if (c >= 'a' && c <= 'z') {
        val start = i
        var j = i
        var cc = c
        while (j < len && cc >= 'a' && cc <= 'z') {
          j += 1
          if (j < len) {
            cc = text.charAt(j)
            if (cc >= 'A' && cc <= 'Z') cc = (cc + 32).toChar
          } else cc = ' '
        }
        bounds += start; bounds += j
        i = j
      } else i += 1
    }
    val ntok = bounds.length / 2
    if (ntok == 0) return Array.empty
    val win = if (ntok < n) ntok else n
    val m = ntok - win + 1
    val out = new Array[Long](m)
    var w = 0
    while (w < m) {
      var h = 1125899906842597L
      var t = w
      val endTok = w + win
      while (t < endTok) {
        var p = bounds(2 * t)
        val e = bounds(2 * t + 1)
        while (p < e) {
          var c = text.charAt(p)
          if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
          h = 31 * h + c
          p += 1
        }
        if (t < endTok - 1) h = 31 * h + ' '
        t += 1
      }
      out(w) = mix64(h)
      w += 1
    }
    java.util.Arrays.sort(out)
    // in-place distinct over the sorted array
    var k = 0
    var r = 0
    while (r < m) {
      if (r == 0 || out(r) != out(r - 1)) { out(k) = out(r); k += 1 }
      r += 1
    }
    if (k == m) out else java.util.Arrays.copyOf(out, k)
  }

  /** MinHash signature over WORD shingles — [[minhash]]'s published-unit
    * twin; identical affine-permutation construction, so signatures from
    * the two units band and compare with the same machinery. */
  def minhashWords(text: String, numHashes: Int, n: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val shingles = wordShingleHashes(text, n)
    val (a, b) = affineParams(numHashes)
    var s = 0
    while (s < shingles.length) {
      val base = shingles(s)
      var i = 0
      while (i < numHashes) {
        val h = a(i) * base + b(i)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      s += 1
    }
    sig
  }

  /** Exact Jaccard of the two texts' WORD-n-gram sets. */
  def wordNgramJaccard(a: String, b: String, n: Int): Double =
    sortedJaccard(wordShingleHashes(a, n), wordShingleHashes(b, n))

  /** Jaccard from two SORTED distinct-hash arrays — the array-shaped twin of
    * [[ngramJaccard]] (bit-identical IEEE result) for pipelines that already
    * carry the gram sets and must not re-shingle the text per pair. */
  def sortedJaccard(sa: Array[Long], sb: Array[Long]): Double = {
    if (sa.isEmpty && sb.isEmpty) return 1.0
    if (sa.isEmpty || sb.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (sa.length + sb.length - inter)
  }

  /** [[sortedJaccard]] with threshold-aware early abandon: returns the EXACT
    * Jaccard when it is ≥ `t`, or -1.0 as soon as the merge proves it cannot
    * be (inter + min(remaining) < t/(1+t)·(|a|+|b|), the overlap bound).
    * Never abandons a qualifying pair — the bound is an upper bound on the
    * achievable intersection — so filter(result ≥ t) is exact; on dissimilar
    * inputs it exits after a few dozen steps instead of |a|+|b|. */
  def sortedJaccardAtLeast(sa: Array[Long], sb: Array[Long], t: Double): Double = {
    if (sa.isEmpty && sb.isEmpty) return 1.0
    if (sa.isEmpty || sb.isEmpty) return if (t <= 0.0) 0.0 else -1.0
    val la = sa.length; val lb = sb.length
    val alpha = t / (1.0 + t) * (la + lb) - 1e-9
    var i = 0; var j = 0; var inter = 0
    while (i < la && j < lb) {
      if (inter + math.min(la - i, lb - j) < alpha) return -1.0
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (la + lb - inter)
  }

  /**
   * Winnowing document fingerprint (Schleimer, Wilkerson, Aiken — SIGMOD'03
   * "Winnowing: Local Algorithms for Document Fingerprinting"): min shingle
   * hash per sliding window, deduplicated. Returns the sorted fingerprint set.
   */
  def winnow(text: String, shingleSize: Int = 5, window: Int = 4): Array[Long] = {
    val len = text.length
    if (len < shingleSize) return if (len == 0) Array.empty else Array(mix64(polyHash(text, 0, len)))
    val m = len - shingleSize + 1
    val hashes = new Array[Long](m)
    var i = 0
    while (i < m) { hashes(i) = mix64(polyHash(text, i, shingleSize)); i += 1 }
    val set = new java.util.TreeSet[java.lang.Long]()
    var w = 0
    val effWindow = math.min(window, m)
    while (w + effWindow <= m) {
      var minH = Long.MaxValue
      var j = w
      while (j < w + effWindow) { if (hashes(j) < minH) minH = hashes(j); j += 1 }
      set.add(minH)
      w += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  // --- language ID (n-gram/stopword heuristic) ---

  private val StopWords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "on", "are", "with", "as", "at", "this", "have", "be", "not", "you"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "una", "los", "las", "por", "con", "para", "es", "no", "se", "del", "su", "al", "como"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "en", "un", "une", "du", "que", "qui", "dans", "pour", "est", "pas", "sur", "ce", "il", "au"),
    "de" -> Set("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist", "des", "im", "nicht", "ein", "eine", "auf", "als", "auch", "es", "an"),
    "it" -> Set("il", "la", "di", "che", "e", "in", "un", "una", "per", "del", "con", "non", "le", "si", "dei", "al", "da", "come", "anche", "ma"),
    "pt" -> Set("o", "a", "de", "que", "e", "do", "da", "em", "um", "uma", "para", "com", "os", "as", "no", "na", "por", "mais", "dos", "se"),
  )

  /**
   * Heuristic language ID: script detection for non-Latin scripts (zh/ja/ko/
   * ru/ar/hi), stopword hit-rate vote among Latin languages, "und" when no
   * evidence. Deterministic; designed for cheap per-row evaluation at scale.
   */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0; var kana = 0; var hangul = 0; var cyr = 0; var arab = 0; var deva = 0; var latin = 0
    var i = 0
    val sampleLen = math.min(text.length, 4096)
    while (i < sampleLen) {
      val c = text.charAt(i).toInt
      if (c >= 0x4e00 && c <= 0x9fff) cjk += 1
      else if ((c >= 0x3040 && c <= 0x30ff)) kana += 1
      else if (c >= 0xac00 && c <= 0xd7af) hangul += 1
      else if (c >= 0x0400 && c <= 0x04ff) cyr += 1
      else if (c >= 0x0600 && c <= 0x06ff) arab += 1
      else if (c >= 0x0900 && c <= 0x097f) deva += 1
      else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= 0xc0 && c <= 0x17f)) latin += 1
      i += 1
    }
    val scripted = cjk + kana + hangul + cyr + arab + deva
    if (scripted > latin) {
      if (kana > 0) return "ja"
      if (hangul > kana && hangul > cjk) return "ko"
      if (cjk >= kana && cjk >= hangul && cjk >= cyr && cjk >= arab && cjk >= deva) return "zh"
      if (cyr >= arab && cyr >= deva) return "ru"
      if (arab >= deva) return "ar"
      return "hi"
    }
    if (latin == 0) return "und"
    // Latin script: stopword vote
    val words = text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}]+")
    if (words.isEmpty) return "und"
    var best = "und"
    var bestHits = 0
    StopWords.foreach { case (lang, stops) =>
      var hits = 0
      var w = 0
      while (w < words.length) { if (stops.contains(words(w))) hits += 1; w += 1 }
      if (hits > bestHits) { bestHits = hits; best = lang }
    }
    if (bestHits == 0) "und" else best
  }

  /**
   * Distinct md5 digests (raw 16 bytes) of the WORD-ALIGNED `minLen`-char
   * grams of `text`: one digest per start offset that is 0 or right after
   * a space. One pass over the string — the O(len²) trap of composing
   * per-position `substr` expressions (each rescans from the start) is why
   * this is native. md5 (not our xxhash-style mixers) because it is
   * 128-bit — collision-free at any corpus size, so gram-digest grouping
   * IS gram grouping, which keeps
   * [[graft.pipeline.Dedup.sharedSubstringStats]] exactly equal to a
   * string-keyed engine (the DuckDB oracle groups the md5 of the same
   * grams). Raw bytes, not hex: the digest never leaves the plan, and 16 B
   * keys halve the one wide shuffle. Positions count UTF-16 units
   * (identical to code points for all BMP text; supplementary-plane
   * offsets diverge from a code-point engine — irrelevant for dedup
   * quality, noted for byte-audit parity).
   */
  def alignedGramMd5s(text: String, minLen: Int): Array[Array[Byte]] = {
    val n = text.length
    if (n < minLen) return Array.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashMap[java.math.BigInteger, Array[Byte]]()
    var i = 0
    while (i <= n - minLen) {
      if (i == 0 || text.charAt(i - 1) == ' ') {
        val bytes = text.substring(i, i + minLen)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = md.digest(bytes)
        seen.putIfAbsent(new java.math.BigInteger(d), d)
      }
      i += 1
    }
    val out = new Array[Array[Byte]](seen.size)
    var j = 0
    val it = seen.values().iterator()
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /**
   * Distinct lowercase-alphanumeric token `n`-grams joined by single
   * spaces — one pass, replicating the SQL derivation
   * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
   * slice(filter(split(lower(t), "[^a-z0-9]+"), ...), i, n))))` exactly
   * (tokens are maximal [a-z0-9] runs of the lowercased text; anything
   * else separates). The composed higher-order expression allocates a
   * sequence + n-slice + concat per gram and an O(k²)-ish array_distinct
   * per doc; this is a single scan + hash set.
   */
  def tokenNgrams(text: String, n: Int): Array[String] = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val toks = new scala.collection.mutable.ArrayBuffer[String](s.length / 6 + 1)
    var i = 0
    val len = s.length
    while (i < len) {
      var c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        while (i < len && {
          c = s.charAt(i); (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) i += 1
        toks += s.substring(start, i)
      } else i += 1
    }
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var k = 0
    while (k <= toks.length - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(k + j))
        j += 1
      }
      seen.add(sb.toString)
      k += 1
    }
    val out = new Array[String](seen.size)
    seen.toArray(out)
    out
  }

  /**
   * ALL lowercase-alphanumeric token `n`-grams IN ORDER, duplicates
   * preserved (gram k starts at token position k) — the
   * repetition-counting sibling of [[tokenNgrams]], which dedups; the
   * same tokenization contract (maximal [a-z0-9] runs of the lowercase
   * text). `n = 1` yields the token stream itself.
   */
  def tokenNgramsAll(text: String, n: Int): Array[String] = {
    val s = text.toLowerCase(java.util.Locale.ROOT)
    val toks = new scala.collection.mutable.ArrayBuffer[String](s.length / 6 + 1)
    var i = 0
    val len = s.length
    while (i < len) {
      var c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        while (i < len && {
          c = s.charAt(i); (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) i += 1
        toks += s.substring(start, i)
      } else i += 1
    }
    if (toks.length < n) return Array.empty
    val out = new Array[String](toks.length - n + 1)
    var k = 0
    while (k <= toks.length - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(k + j))
        j += 1
      }
      out(k) = sb.toString
      k += 1
    }
    out
  }

  /** Word-aligned gram START OFFSETS (0-based UTF-16 units) of `text` —
    * the position companion of [[alignedGramMd5s]]: `starts(text, L)(k)`
    * is where the k-th digest's gram begins when digests are emitted
    * WITHOUT dedup (one per aligned offset). Used by span-coverage dedup,
    * where every occurrence matters, not just distinct grams. */
  def alignedGramStarts(text: String, minLen: Int): Array[Int] = {
    val n = text.length
    if (n < minLen) return Array.empty
    val out = new scala.collection.mutable.ArrayBuffer[Int](n / 6 + 1)
    var i = 0
    while (i <= n - minLen) {
      if (i == 0 || text.charAt(i - 1) == ' ') out += i
      i += 1
    }
    out.toArray
  }

}
