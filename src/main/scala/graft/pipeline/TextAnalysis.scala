package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlFunctions

/**
 * Text-quality operators for training-data curation: token counting,
 * quality scoring, language ID, document fingerprinting. All are composed
 * from codegen'd built-ins or single-pass native expressions — no UDF/
 * collect anywhere, so they vectorize across a 100 TB corpus.
 */
object TextAnalysis {
  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftShims.column(e)
  private def e(col: Column) = GraftShims.expression(col)

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token estimate: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one piece (GPT-2-style pre-tokenize
    * regex, simplified). Kept as the zero-setup estimator; [[tokenCountBpe]]
    * is the real merges-table count. */
  def tokenCountBpeish(text: Column): Column =
    coalesce(regexp_count(text, lit("[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]")), lit(0))

  /**
   * Broadcast a BPE merges table once per session for use with
   * [[tokenCountBpe]] / [[tokenizeBpe]] — rank = sequence position, the
   * standard merges-file order. Accepts up to ~1M pairs (vocab-bounded by
   * construction: merges tables are tokenizer artifacts, not data).
   */
  def bpeState(spark: org.apache.spark.sql.SparkSession,
               merges: Seq[(String, String)],
               byteLevel: Boolean = false): org.apache.spark.sql.graft.BpeState = {
    require(merges.nonEmpty && merges.size <= (1 << 20),
      s"merges table must have 1..2^20 pairs, got ${merges.size}")
    new org.apache.spark.sql.graft.BpeState(
      spark.sparkContext.broadcast(merges.toArray), byteLevel)
  }

  /**
   * Pre-token frequency histogram — the ONLY corpus pass BPE training
   * needs. Vocabulary-bounded, not corpus-bounded (a 100 TB
   * natural-language corpus has millions of distinct pre-tokens against
   * billions of docs); one scan-local regexp projection + one
   * map-side-combined aggregate.
   */
  def bpeWordHistogram(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(regexp_extract_all(col(textCol),
        lit(graft.text.BpeCore.pretokenRegex), lit(0))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))

  /**
   * Learn a BPE merges table from the corpus itself, closing the tokenizer
   * loop (train → [[bpeState]] → [[tokenCountBpe]] → [[packBudgeted]])
   * inside the engine: histogram aggregate (one shuffle), BOUNDED collect
   * (a `TakeOrderedAndProject` of at most `maxVocab` + 1 rows — the driver
   * never holds more, whatever the corpus vocabulary), then
   * [[graft.text.BpeTrainer.trainFromHistogram]]'s deterministic driver
   * loop. The learned table is a pure function of the corpus.
   *
   * TRUNCATION CONTRACT: when the corpus pre-token vocabulary exceeds
   * `maxVocab` (a real multilingual web corpus will — its long tail is
   * corpus-sized, not tokenizer-sized), training proceeds on the TOP
   * `maxVocab` pre-tokens by (count DESC, token ASC — deterministic tie
   * break) with a loud stderr note, instead of throwing. Dropping the
   * rarest pre-tokens is the textbook BPE training practice (merge
   * decisions are count-argmax; tail-of-tail tokens cannot win a merge
   * before `minPairCount` cuts them anyway) and keeps the driver memory
   * bound a hard one. Under the cap the result is byte-identical to the
   * untruncated train.
   */
  def trainBpe(df: DataFrame, numMerges: Int, textCol: String = "text",
               minPairCount: Long = 2L, maxVocab: Int = 1 << 20): Vector[(String, String)] = {
    // maxVocab + 1: one sentinel row distinguishes at-cap from over-cap
    // without a second aggregate job
    val top = bpeWordHistogram(df, textCol)
      .orderBy(col("n").desc, col("tok").asc)
      .limit(maxVocab + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val hist =
      if (top.length <= maxVocab) top
      else {
        System.err.println(
          s"[trainBpe] pre-token vocabulary exceeds maxVocab=$maxVocab: training on the " +
            s"top $maxVocab pre-tokens by count (count DESC, token ASC); the dropped tail " +
            "is the rarest mass and cannot win a merge at any minPairCount ≥ its counts. " +
            "Raise maxVocab to widen the histogram.")
        top.take(maxVocab)
      }
    graft.text.BpeTrainer.trainFromHistogram(
      hist.sortBy(_._1).toSeq, numMerges, minPairCount)
  }

  /** REAL BPE token count from a broadcast merges table — the
    * tokenizer-truth denominator every training budget is denominated in
    * (see [[graft.text.BpeCore]] for the deterministic contract). Stateless
    * scan-local projection like every token counter here. */
  def tokenCountBpe(text: Column, state: org.apache.spark.sql.graft.BpeState): Column =
    c(org.apache.spark.sql.graft.BpeTokenCount(e(text), state))

  /** BPE token strings in document order (array<string>). */
  def tokenizeBpe(text: Column, state: org.apache.spark.sql.graft.BpeState): Column =
    c(org.apache.spark.sql.graft.BpeTokens(e(text), state))

  /** BPE vocab ids in document order (array<long>) — the trainer-feeding
    * format (codepoint / 0x110000 + forming rank; deterministic). */
  def tokenIdsBpe(text: Column, state: org.apache.spark.sql.graft.BpeState): Column =
    c(org.apache.spark.sql.graft.BpeTokenIds(e(text), state))

  /** Decode a vocab-id array back to text — the exact inverse of
    * [[tokenIdsBpe]] (lossless round trip; see
    * [[graft.text.BpeCore.decodeIds]]). The sampling-side half of the
    * tokenizer surface: model outputs arrive as id sequences. */
  def detokenizeBpe(ids: Column, state: org.apache.spark.sql.graft.BpeState): Column =
    c(org.apache.spark.sql.graft.BpeDetokenize(e(ids), state))

  /** Chunk array of `text` under the conveyor token-budget cut (see
    * [[graft.text.BpeCore.chunkText]]) — scan-local, zero shuffles. */
  def bpeChunks(text: Column, state: org.apache.spark.sql.graft.BpeState,
                maxTokens: Long): Column =
    c(org.apache.spark.sql.graft.BpeChunks(e(text), state, maxTokens))

  /**
   * TOKEN-denominated chunking — [[chunk]]'s character windows replaced by
   * real tokenizer-token budgets, the unit training windows are actually
   * sized in: one row per chunk with its positional index, text, and BPE
   * token count. Cuts fall on pre-token boundaries only; chunks
   * concatenate back to the document. Fully scan-local (the chunk array
   * is one expression pass; posexplode is a per-row generator) — no
   * shuffle at any scale, unlike a window-cumsum formulation.
   */
  def chunkByTokens(df: DataFrame, state: org.apache.spark.sql.graft.BpeState,
                    maxTokens: Long, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    df.select(col(idCol),
        posexplode(bpeChunks(col(textCol), state, maxTokens))
          .as(Seq("chunk_idx", "chunk")))
      .select(col(idCol), col("chunk_idx").cast("long"), col("chunk"),
        tokenCountBpe(col("chunk"), state).cast("long").as("n_tokens"))

  /**
   * Fixed-length training-example construction — the terminal step of an
   * LM data pipeline: each document is BPE-tokenized, an EOS sentinel id
   * is appended, sequences are concatenated in the deterministic
   * (md5(id), id) training order ([[Sampling.globalTrainingOrder]]'s
   * order), and the global token stream is cut into back-to-back
   * `seqLen`-token examples; the trailing partial example is dropped, as
   * trainers do. One row per example: (example_id, ids_md5) — the digest
   * stands in for the id array so results hash-compare across engines.
   *
   * Everything upstream of the cut is scan-local (BpeTokenIds + one
   * posexplode); each document's first-token position comes from the
   * order-preserving hash-bucket prefix sums
   * ([[Sampling.globalOrderedOffsets]] with weight = |ids|+1 — never a
   * single-partition window); the ONE wide shuffle carries (position,
   * id) pairs grouping into examples — that token movement IS the
   * operation's output, and each group is exactly `seqLen` ids. At scale
   * the result partitions cleanly by example_id range (the
   * [[writeTokenShards]] layout one level down). The tokenizer runs
   * twice (once for the length, once for the ids); the per-executor word
   * memo makes the second pass cheap.
   */
  def buildExamples(df: DataFrame, state: org.apache.spark.sql.graft.BpeState,
                    seqLen: Int, eosId: Long, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val withIds = df.select(col(idCol).as("doc_id"),
      concat(
        coalesce(tokenIdsBpe(col(textCol), state), array().cast("array<bigint>")),
        array(lit(eosId))).as("__ids"))
    Sampling.globalOrderedOffsets(
        withIds, size(col("__ids")).cast("long"), "doc_id")
      .select(col("global_offset"), posexplode(col("__ids")))
      .select((col("global_offset") + col("pos")).as("p"), col("col").as("id"))
      .withColumn("example_id", expr(s"p div $seqLen"))
      .groupBy(col("example_id"))
      .agg(count(lit(1)).as("__n"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("p"), col("id")))),
            x => x.getField("id").cast("string")), ",")).as("ids_md5"))
      .filter(col("__n") === seqLen.toLong)
      .select(col("example_id"), col("ids_md5"))
  }

  /** Integer log2 of a positive long (bit length − 1). */
  private def ilog2(n: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(n)

  /**
   * Corpus-derived Zipf unigram vocabulary: the top-`topV` whitespace
   * tokens by (count DESC, token ASC) with an INTEGER surprisal cost
   * `cost_bits = floor(log2(rank))`. Under Zipf's law p(r) ∝ 1/r, so
   * log2(rank) is unigram surprisal in bits up to an additive constant —
   * the deterministic, cross-engine-exact stand-in for float-logprob LM
   * scoring (CCNet-style perplexity filtering, Wenzek et al. LREC'20):
   * floor(log2) is pure bit arithmetic, so no transcendental is ever
   * evaluated and rankings replay bit-identically in any engine
   * (`length(bin(rank)) - 1` in SQL).
   *
   * Plan: scan-local tokenize → one map-side-combined count aggregate →
   * TakeOrderedAndProject to `topV` (vocabulary-bounded, like
   * [[bpeWordHistogram]]) → rank/cost over the tiny limited set.
   */
  def zipfVocab(df: DataFrame, textCol: String = "text",
                topV: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topV > 0 && topV <= (1 << 20), s"topV out of range: $topV")
    val top = df
      .select(explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(topV)
    // rank over the ≤topV-row survivor set: vocabulary-bounded single
    // partition, the same boundedness argument as the BPE histogram (its
    // partition-less WARN is muted at the mains — Spark 4's
    // EliminateWindowPartitions folds away constant partition keys, so
    // the classic partitionBy(lit(0)) silencer is a no-op)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token").asc))
          .cast("long"))
      .withColumn("cost_bits", length(bin(col("rank"))).cast("long") - 1L)
      .select(col("token"), col("rank"), col("cost_bits"))
  }

  /** Broadcast LM scoring state from explicit (token, cost) rows — the
    * production import path for an externally-trained LM vocabulary (e.g.
    * KenLM costs quantized to integers). */
  def lmState(spark: org.apache.spark.sql.SparkSession,
              costs: Seq[(String, Long)], oovCost: Long)
      : org.apache.spark.sql.graft.LmState = {
    require(costs.size <= (1 << 21), s"vocabulary too large: ${costs.size}")
    new org.apache.spark.sql.graft.LmState(
      spark.sparkContext.broadcast(costs.toArray), oovCost)
  }

  /** [[lmState]] from a [[zipfVocab]]-shaped DataFrame (token, cost_bits).
    * Driver-collects (vocabulary-bounded); OOV tokens pay
    * floor(log2(V + 1)) — one rank past the vocabulary edge. */
  def lmStateFromVocab(vocab: DataFrame): org.apache.spark.sql.graft.LmState = {
    val rows = vocab.select(col("token"), col("cost_bits").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    lmState(vocab.sparkSession, rows, ilog2(rows.size + 1L))
  }

  /** Total integer surprisal (bits) of a whitespace-token array under a
    * broadcast unigram cost table — scan-local, codegen'd, zero shuffles. */
  def lmSurprisal(tokens: Column, state: org.apache.spark.sql.graft.LmState): Column =
    c(org.apache.spark.sql.graft.LmCostSum(e(tokens), state))

  /** Out-of-vocabulary COUNTING state: every vocabulary token costs 0 and
    * OOV costs 1, so [[lmSurprisal]] degenerates to a per-doc OOV counter —
    * the tokenizer/vocabulary coverage report (what share of the corpus a
    * candidate vocab fails to cover) reuses the broadcast-map scan-local
    * scoring machinery instead of a 200-way `array_contains` chain.
    * Driver-collects the vocabulary (bounded by [[zipfVocab]]'s `topV`). */
  def oovState(vocab: DataFrame): org.apache.spark.sql.graft.LmState = {
    val rows = vocab.select(col("token")).collect()
      .map(r => (r.getString(0), 0L)).toSeq
    lmState(vocab.sparkSession, rows, oovCost = 1L)
  }

  /**
   * Corpus-derived Zipf BIGRAM vocabulary — [[zipfVocab]] one n-gram up:
   * the top-`topB` adjacent-token pairs (joined with one space — tokens
   * are whitespace-split so the key is unambiguous) by (count DESC, pair
   * ASC), with the same INTEGER `cost_bits = floor(log2(rank))` surprisal.
   * Same plan shape: scan-local pair projection → one map-side-combined
   * aggregate → TakeOrderedAndProject → rank over the bounded survivors.
   */
  def zipfBigramVocab(df: DataFrame, textCol: String = "text",
                      topB: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topB > 0 && topB <= (1 << 20), s"topB out of range: $topB")
    val ws = split(trim(col(textCol)), "\\s+")
    val n1 = greatest(size(ws) - 1, lit(0))
    val pairs = zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
    val top = df.select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topB)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("pair").asc))
          .cast("long"))
      .withColumn("cost_bits", length(bin(col("rank"))).cast("long") - 1L)
      .select(col("pair"), col("rank"), col("cost_bits"))
  }

  /** Broadcast bigram-backoff LM state from explicit (token, cost) and
    * (pair, cost) rows — the production import path for an
    * externally-trained n-gram LM quantized to integer costs. */
  def bigramLmState(spark: org.apache.spark.sql.SparkSession,
                    uniCosts: Seq[(String, Long)], biCosts: Seq[(String, Long)],
                    oovCost: Long, backoffCost: Long)
      : org.apache.spark.sql.graft.BigramLmState = {
    require(uniCosts.size <= (1 << 21) && biCosts.size <= (1 << 22),
      s"LM tables too large: ${uniCosts.size} uni / ${biCosts.size} bi")
    new org.apache.spark.sql.graft.BigramLmState(
      spark.sparkContext.broadcast(uniCosts.toArray),
      spark.sparkContext.broadcast(biCosts.toArray), oovCost, backoffCost)
  }

  /** [[bigramLmState]] from [[zipfVocab]] + [[zipfBigramVocab]] frames.
    * OOV pays floor(log2(V+1)); the backoff penalty is the caller's
    * integer discount. Driver-collects (vocabulary-bounded). */
  def bigramLmStateFromVocab(uniVocab: DataFrame, biVocab: DataFrame,
                             backoffCost: Long)
      : org.apache.spark.sql.graft.BigramLmState = {
    val u = uniVocab.select(col("token"), col("cost_bits").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val b = biVocab.select(col("pair"), col("cost_bits").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    bigramLmState(uniVocab.sparkSession, u, b, ilog2(u.size + 1L), backoffCost)
  }

  /** Total integer surprisal (bits) under a broadcast bigram-backoff LM —
    * scan-local, codegen'd, zero shuffles. */
  def lmSurprisalBigram(tokens: Column,
                        state: org.apache.spark.sql.graft.BigramLmState): Column =
    c(org.apache.spark.sql.graft.BigramLmCostSum(e(tokens), state))

  /** Broadcast hashed-linear-classifier state from a dense integer weight
    * array (index = bucket) + bias — the fastText-style quality-classifier
    * import path (train elsewhere, quantize weights to integers). */
  def classifierState(spark: org.apache.spark.sql.SparkSession,
                      weights: Array[Long], bias: Long)
      : org.apache.spark.sql.graft.HashedLinearState = {
    require(weights.nonEmpty && weights.length <= (1 << 22),
      s"weight table must have 1..2^22 buckets, got ${weights.length}")
    new org.apache.spark.sql.graft.HashedLinearState(
      spark.sparkContext.broadcast(weights), bias)
  }

  /** Integer linear-classifier score of a token array under a broadcast
    * hashed weight table (unigrams + adjacent bigrams; see
    * [[org.apache.spark.sql.graft.HashedLinearState]]) — scan-local,
    * codegen'd, zero shuffles. */
  def classifierScore(tokens: Column,
                      state: org.apache.spark.sql.graft.HashedLinearState): Column =
    c(org.apache.spark.sql.graft.HashedLinearScore(e(tokens), state))

  /** Unigram + adjacent-bigram feature array of a text column — the same
    * feature definition [[org.apache.spark.sql.graft.HashedLinearState]]
    * scores, expressed in built-ins for the counting side. */
  private def hashedFeatures(text: Column): Column = {
    val ws = split(trim(text), "\\s+")
    val n1 = greatest(size(ws) - 1, lit(0))
    concat(ws, zip_with(slice(ws, lit(1), n1), slice(ws, lit(2), n1),
      (a, b) => concat(a, lit(" "), b)))
  }

  /** Per-bucket feature counts of a corpus: bucket = first 32 md5 bits of
    * the feature mod `numBuckets` (the [[classifierScore]] hash). One
    * explode + one map-side-combined aggregate onto a bucket-bounded
    * table — the corpus never shuffles, only (bucket, count). */
  def hashedBucketCounts(df: DataFrame, numBuckets: Int,
                         textCol: String = "text"): DataFrame =
    df.select(explode(hashedFeatures(col(textCol))).as("__f"))
      .select(pmod(conv(substring(md5(col("__f")), 1, 8), 16, 10).cast("long"),
        lit(numBuckets.toLong)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /**
   * DSIR-style importance weights (Xie et al., "Data Selection for
   * Language Models via Importance Resampling", NeurIPS 2023): score raw
   * documents by how target-like their hashed n-gram features are. The
   * log-likelihood ratio is INTEGER bit costs — w[b] = ilog2(n_target[b]+1)
   * − ilog2(n_raw[b]+1), the same floor(log2) = length(bin(n))−1 bit
   * arithmetic as [[zipfVocab]] — so scores replay exactly cross-engine
   * (no float log anywhere; the +1 is add-one smoothing). Counting is two
   * bucket-bounded aggregates; scoring is the scan-local
   * [[classifierScore]] — at 100 TB the raw corpus is read once to count
   * and once to score, and only (bucket, count) rows ever shuffle.
   */
  def importanceState(target: DataFrame, raw: DataFrame, numBuckets: Int,
                      textCol: String = "text")
      : org.apache.spark.sql.graft.HashedLinearState = {
    val tc = hashedBucketCounts(target, numBuckets, textCol).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val rc = hashedBucketCounts(raw, numBuckets, textCol).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val w = Array.tabulate(numBuckets)(b =>
      ilog2(tc.getOrElse(b, 0L) + 1L) - ilog2(rc.getOrElse(b, 0L) + 1L))
    classifierState(target.sparkSession, w, bias = 0L)
  }

  /**
   * [[importanceState]] for the common case where the target is a SUBSET
   * of the raw corpus selected by a per-row predicate (DSIR's usual
   * setup: "docs that look like the eval set" vs "everything"). ONE
   * explode+aggregate scan emits `(bucket, n_target, n_raw)` via a
   * conditional count instead of two full corpus reads — at 100 TB this
   * halves the counting cost (one corpus read saved). Weights are
   * bit-for-bit identical to
   * `importanceState(raw.filter(isTarget), raw, numBuckets)`:
   * `count(when(isTarget))` over the exploded features equals the
   * target-side count, and absent buckets get ilog2(1)−ilog2(1) = 0
   * either way.
   */
  def importanceStateFused(raw: DataFrame, isTarget: Column, numBuckets: Int,
                           textCol: String = "text")
      : org.apache.spark.sql.graft.HashedLinearState = {
    val counts = raw
      .select(isTarget.as("__t"),
        explode(hashedFeatures(col(textCol))).as("__f"))
      .select(col("__t"),
        pmod(conv(substring(md5(col("__f")), 1, 8), 16, 10).cast("long"),
          lit(numBuckets.toLong)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(when(col("__t"), 1)).as("n_target"),
        count(lit(1)).as("n_raw"))
      .collect()
    val w = new Array[Long](numBuckets)
    counts.foreach { r =>
      w(r.getLong(0).toInt) =
        ilog2(r.getLong(1) + 1L) - ilog2(r.getLong(2) + 1L)
    }
    classifierState(raw.sparkSession, w, bias = 0L)
  }

  /**
   * Per-group tokenizer FERTILITY report — the "how does this tokenizer
   * treat each language/source" table a pipeline reads before budgeting
   * mixtures in tokens: real BPE tokens, whitespace tokens, and chars
   * per group, with fertility (BPE tokens per whitespace word) and
   * compression (chars per BPE token) in integer permille. High
   * fertility on a language = the vocab under-serves it (its share of a
   * fixed TOKEN budget buys less text) — the standard multilingual-
   * tokenizer diagnostic. One map-side-combined aggregate; the BPE count
   * is the scan-local broadcast-merges expression.
   */
  def tokenizerFertility(df: DataFrame, state: org.apache.spark.sql.graft.BpeState,
                         groupCol: String = "lang",
                         textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.select(col(groupCol),
        coalesce(tokenCountBpe(t, state), lit(0)).cast("long").as("__nb"),
        tokenCountWs(t).cast("long").as("__nw"),
        length(t).cast("long").as("__nc"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nb")).as("n_bpe_tokens"),
        sum(col("__nw")).as("n_ws_tokens"),
        sum(col("__nc")).as("n_chars"))
      .withColumn("fertility_permille",
        expr("(n_bpe_tokens * 1000) div greatest(n_ws_tokens, 1)"))
      .withColumn("chars_per_token_permille",
        expr("(n_chars * 1000) div greatest(n_bpe_tokens, 1)"))
  }

  /** ALL ordered token n-grams (duplicates preserved, posexplode index =
    * starting token position) — the column form of
    * [[graft.text.TextCore.tokenNgramsAll]]. */
  def tokenNgramsAll(text: Column, n: Int): Column =
    SqlFunctions.tokenNgramsAll(text, lit(n))

  def langId(text: Column): Column = SqlFunctions.langId(text)

  /** Winnowing fingerprint set (array<long>) — robust doc identity for
    * near-dup detection and leakage scans. */
  def fingerprint(text: Column, shingle: Int = 5, window: Int = 4): Column =
    SqlFunctions.winnowFingerprint(text, lit(shingle), lit(window))

  /** Canonical-text hash: lowercase, strip non-alphanumerics, md5. */
  def canonicalHash(text: Column): Column =
    md5(regexp_replace(lower(text), "[^\\p{L}\\p{N}]+", " "))

  /**
   * Canonical Unicode text normalization — the pass that runs BEFORE any
   * hash-based dedup so that byte-different, render-identical texts ("é"
   * composed vs "e"+combining-acute) collapse: NFC composition → lowercase
   * → whitespace-run collapse → trim. Every step is chosen for exact
   * cross-engine agreement: NFC is the same Unicode algorithm in the JVM,
   * DuckDB, and Python; the whitespace class is the explicit `[ \t\n\r]`
   * common subset (Java's `\s` includes U+000B, RE2's does not). NFC runs
   * before lower() — on already-NFC ASCII corpora the native expression's
   * `isNormalized` fast path makes it a no-allocation scan. Stateless
   * projection: no shuffle, streams unchanged.
   */
  def normalizeText(text: Column): Column = {
    trim(regexp_replace(lower(SqlFunctions.nfcNormalize(text)), "[ \\t\\n\\r]+", " "))
  }

  /**
   * Corpus vocabulary statistics: per-term document frequency and total
   * occurrence count, top `topK` by occurrences. The raw material for IDF
   * weighting, stopword discovery, and tokenizer-vocab sanity checks.
   * Plan: explode is scan-local; the term aggregate map-side combines; the
   * top-k is a TakeOrderedAndProject (per-partition heaps, no full sort) —
   * the whole thing is one shuffle at any corpus size.
   */
  def vocabStats(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id", minTermLen: Int = 3,
                 topK: Int = 100): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(split(lower(col(textCol)), "[^a-z]+")).as("term"))
      .filter(length(col("term")) >= minTermLen)
      .groupBy(col("term"))
      .agg(countDistinct(col("__doc")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("term").asc)
      .limit(topK)

  /**
   * Per-document top-`topK` distinctive terms by TF-IDF — the classic
   * keyword-extraction / doc-vector primitive over a curation corpus.
   *
   * The IDF factor is the RATIO N/df rather than log(N/df): log is a
   * transcendental whose last ulp varies across libm implementations,
   * while IEEE ×/÷ are exactly specified, so scores — and hence ranks and
   * tie-breaks — are bit-reproducible across engines (the determinism
   * contract every query here obeys). At fixed tf the ranking is identical
   * (log is monotone); only cross-term score magnitudes differ.
   *
   * Plan: tokenize (scan-local explode) → (doc, term) tf aggregate
   * (map-side combined) → term df aggregate over the ALREADY per-doc-
   * distinct tf table (much smaller than the token stream) → shuffle join
   * tf⋈df on term → per-doc top-k via the bounded-heap
   * [[org.apache.spark.sql.graft.TopNByOrdStr]] aggregate: partial heaps
   * ship ≤ topK rows per (map task × doc) where the former window rank
   * shuffled and SORTED the entire (doc, term) tf stream — the same
   * window→heap swap [[graft.api.SpatialJoin.knnJoinAgg]] made. `n`
   * (corpus size) is computed once driver-side — a metadata-cheap count —
   * and folded in as a literal.
   *
   * Determinism: ord = sortable bits of −score (so ascending heap order =
   * score descending, exactly — IEEE negation is a sign flip); ties break
   * on the payload `term 0x1F tf 0x1F df`, whose binary order equals
   * term-ascending order because 0x1F sorts below every [a-z] byte — the
   * window formulation's (score DESC, term ASC) order, reproduced
   * bit-exactly.
   */
  /**
   * Top-k bigram COLLOCATIONS by integer lift — the phrase-mining pass a
   * tokenizer-vocabulary or boilerplate-phrase audit reads ("new york"
   * co-occurs far above chance; "the the" doesn't): for adjacent
   * whitespace-token pairs (x, y),
   *   lift_permille = ((1000·N div c_x) · c_xy) div c_y
   * with N = total token count, c_x/c_y unigram counts, c_xy the bigram
   * count — the PMI ratio p(xy)/(p(x)p(y)) in permille, computed by
   * STAGED truncating division so every intermediate stays ≤ 1000·N
   * (< 2⁶³ up to ~9·10¹⁵ tokens — no HUGEINT promotion anywhere, and an
   * oracle replays the identical truncations; a naive 1000·c_xy·N
   * numerator overflows BIGINT at ~10⁷ tokens).
   *
   * Plan: one token explode feeding BOTH count aggregates (unigrams and
   * adjacent pairs), two broadcast-or-shuffle joins to attach c_x/c_y,
   * `minCount` support pruning BEFORE the joins, then a bounded
   * TakeOrderedAndProject at `topK` (lift desc, count desc, words asc —
   * fully deterministic). The token stream shuffles as (word, count)
   * partials only; text never moves.
   *
   * Tokenization matches the BM25/bigram-LM family: whitespace split of
   * the trimmed text — gate-oracle parity pinned there.
   */
  def collocations(df: DataFrame, textCol: String = "text",
                   minCount: Int = 5, topK: Int = 100): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = df.filter(col(textCol).isNotNull)
      .select(split(trim(col(textCol)), "\\s+").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = toks.agg(coalesce(sum(size(col("t"))), lit(0L)).as("n"))
      .head().getLong(0)
    val big = toks.filter(size(col("t")) >= 2)
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    big
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .select(col("w1"), col("w2"), col("c_xy"),
        expr(s"(((1000 * ${n}L) div c_x) * c_xy) div c_y").as("lift_permille"))
      .orderBy(col("lift_permille").desc, col("c_xy").desc,
        col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  def tfidfTopTerms(df: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", minTermLen: Int = 3,
                    topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.graft.TopNByOrdStr
    val n = df.count()
    val tf = df.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), "[^a-z]+")).as("term"))
      .filter(length(col("term")) >= minTermLen)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score",
        col("tf").cast("double") * lit(n.toDouble) / col("df").cast("double"))
    val sep = "\u001F"
    val agg = c(TopNByOrdStr(
      SqlFunctions.doubleSortableBits.expr(e(-col("score"))),
      e(concat_ws(sep, col("term"), col("tf"), col("df"))),
      topK).toAggregateExpression())
    scored.groupBy(col("doc_id"))
      .agg(agg.as("__top"))
      .select(col("doc_id"), posexplode(col("__top")))
      .withColumn("__sp", split(col("col").getField("payload"), sep))
      .select(col("doc_id"),
        (col("pos") + 1).cast("long").as("rank"),
        element_at(col("__sp"), 1).as("term"),
        element_at(col("__sp"), 2).cast("long").as("tf"),
        element_at(col("__sp"), 3).cast("long").as("df"))
  }

  /**
   * One-pass Space-Saving heavy hitters over an item column (tokens,
   * domains, n-grams — any string stream): the frequent-items report
   * without a per-item groupBy. Each map task keeps ≤ `capacity`
   * counters and the shuffle carries capacity-bounded SKETCHES, never a
   * (item, count) stream — the first-pass shape for 100 TB of raw
   * occurrences where [[vocabStats]]' aggregation would shuffle the
   * vocabulary itself. Guarantees (see
   * [[org.apache.spark.sql.graft.SpaceSavingTopK]]): est ≥ true,
   * est − max_err ≤ true, and any item with frequency > N/capacity is
   * tracked. With capacity ≥ the distinct-item count no eviction fires
   * and counts are EXACT with max_err 0 — the regime the gate's GROUP BY
   * oracle verifies; the approximate regime is spec-bounded.
   */
  def heavyHitters(df: DataFrame, item: Column, capacity: Int = 4096,
                   k: Int = 20): DataFrame =
    df.select(item.as("__item"))
      .agg(c(org.apache.spark.sql.graft.SpaceSavingTopK(
        e(col("__item")), capacity, k).toAggregateExpression()).as("__hh"))
      .select(explode(col("__hh")).as("h"))
      .select(col("h.item").as("item"), col("h.est_count").as("est_count"),
        col("h.max_err").as("max_err"))

  /**
   * BM25 (Robertson et al., TREC-3) relevance of every document to a
   * small query-term set — the retrieval scorer behind targeted data
   * selection (mine the pretraining corpus for docs relevant to a task
   * mixture), decontamination triage, and retrieval evals.
   * `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`
   * over the query terms present in d; docs matching no term are not
   * retrieved (standard BM25 semantics).
   *
   * Cross-engine exactness: idf is the RATIO Robertson idf
   * `(N − df + 0.5)/(df + 0.5)` WITHOUT the log — the same
   * transcendental-free decision as [[tfidfTopTerms]] (the log is
   * monotone, so the df ordering is preserved; dropping it keeps every
   * op an IEEE scalar both engines run identically — a production
   * ranker that needs calibrated scores applies the log downstream).
   * Scala folds `k1+1` and `1−b` at plan build; the oracle performs the
   * SAME folds as SQL constant expressions, so no literal-rounding
   * mismatch can occur. The per-doc sum folds term scores in sorted-term
   * order (the ordered-list idiom: IEEE addition is order-sensitive, so
   * the order is part of the contract).
   *
   * Plan shape: TWO corpus scans total — (1) the (doc, term, tf) stream,
   * where the term filter is a literal IN applied INSIDE the token array
   * before anything explodes, so only matching occurrences ever become
   * rows; (2) the corpus-wide (N, Σdl) stats, a one-row aggregate that
   * broadcasts. df is a window count over the tiny matched-term stream —
   * NOT a separate `tf.groupBy` branch, which looks shared but is not:
   * column pruning specializes the two subplans and defeats
   * ReuseExchange, silently re-scanning (and re-tokenizing) the corpus a
   * third time (measured: 3 FileScans → 2, and the probe's warm wall
   * time dropped accordingly). The final top-N is TakeOrderedAndProject;
   * the corpus itself never shuffles.
   */
  def bm25(df: DataFrame, terms: Seq[String], topN: Int = 20,
           idCol: String = "doc_id", textCol: String = "text",
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 10000, "terms must be 1..10000")
    require(topN >= 1, "topN must be positive")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val toks = split(trim(col(textCol)), "\\s+")
    val base = df.select(col(idCol).as("doc_id"),
      size(toks).cast("long").as("dl"),
      filter(toks, t => t.isInCollection(terms)).as("hits"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base.filter(size(col("hits")) > 0)
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfd = col("tf").cast("double")
    val bterm = lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)
    val sTerm = idf * ((tfd * lit(k1 + 1.0)) / (tfd + lit(k1) * bterm))
    withDf
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), sTerm.as("__s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("__s")))),
            x => x.getField("__s")),
          lit(0.0), (acc, x) => acc + x).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topN)
  }

  /**
   * Fixed-window character chunking with stride — the long-document
   * splitter feeding a context-bounded trainer. One row per (doc, offset):
   * offsets are the stride multiples below the text length, so
   * stride == size tiles the document exactly and stride < size overlaps.
   * Scan-local (sequence + explode): no shuffle at any corpus size.
   */
  def chunk(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
            size: Int = 512, stride: Int = 512): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .select(col("doc_id"),
        explode(sequence(lit(0), greatest(length(col("__t")) - 1, lit(0)),
          lit(stride))).as("__off"),
        col("__t"))
      .select(col("doc_id"), col("__off").cast("long").as("chunk_off"),
        expr(s"substring(__t, __off + 1, $size)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
      .drop("__t")
  }

  /**
   * Deterministic sequence packing: documents ordered by id within each
   * group are assigned to packs by cumulative token budget — a document
   * belongs to the pack where its EXCLUSIVE running token sum starts
   * (pack_id = cum div budget), so assignment is a pure function of the
   * (group, id-order, token-count) data: reproducible across engines,
   * partitionings, and runs — the auditable sibling of greedy bin packing
   * (packs can overrun by at most one document's tail, the standard
   * conveyor trade-off).
   *
   * The running sum windows over `groupCols` (e.g. source or language
   * shard), which is what makes it scale: each group sorts independently
   * under one shuffle, rather than a single global total order.
   *
   * `tokenCount` plugs in the budget's denominator: the default whitespace
   * count keeps the historical contract; pass
   * `t => tokenCountBpe(t, state)` to budget in REAL tokenizer tokens.
   */
  def packBudgeted(df: DataFrame, groupCols: Seq[String] = Seq("source"),
                   idCol: String = "doc_id", textCol: String = "text",
                   budgetTokens: Long = 512L,
                   tokenCount: Column => Column = tokenCountWs): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("__cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"__cum div ${budgetTokens}L"))
      .select((Seq(col(idCol)) ++ groupCols.map(col) ++
        Seq(col("n_tokens"), col("pack_id"))): _*)
  }

  /**
   * T5-style SPAN CORRUPTION (Raffel et al. JMLR'20 §3.1.4) — the
   * denoising-objective training-pair prep: mask ~`p` of each document's
   * token blocks and emit (inputs, targets), where inputs replace each
   * masked block with an ordinal sentinel `<extra_id_k>` and targets list
   * each sentinel followed by the original tokens. Spans are fixed-length
   * token BLOCKS (block b = tokens [b·L, (b+1)·L)), and block b of doc d
   * is masked iff md5(d:b) is under the p-threshold — stride-aligned
   * blocks instead of random starts make selection a pure function of
   * (doc identity, position): deterministic, overlap-free by
   * construction, and replayable in any engine with md5 (the same
   * hash-threshold discipline as [[Sampling.deterministicFraction]]).
   *
   * Scale: one scan-local projection — all array arithmetic, no shuffle,
   * no state. Sentinel ordinals cost O(blocks²) list scans per doc,
   * negligible at training-window document lengths (blocks ≈ tokens/L).
   * NULL text → NULL inputs/targets with zero counts (the
   * [[graft.pipeline.Dedup.removeSharedSpans]] totality contract).
   */
  def spanCorrupt(df: DataFrame, p: Double, spanLen: Int = 3,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(p > 0.0 && p < 1.0, s"mask fraction out of (0,1): $p")
    require(spanLen >= 1, "spanLen must be positive")
    val thresh = lit(Sampling.fractionThresholdHex(p))
    val ws = split(trim(col(textCol)), "\\s+")
    val lastBlock = floor((size(ws) - 1).cast("double") / lit(spanLen.toDouble))
      .cast("int")
    val blocks = sequence(lit(0), lastBlock)
    def sel(b: Column): Column =
      md5(concat(col(idCol).cast("string"), lit(":"), b.cast("string"))) < thresh
    def kOf(b: Column): Column =
      size(filter(slice(blocks, lit(1), b), x => sel(x)))
    def sentinel(k: Column): Column =
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    def span(b: Column): Column =
      slice(ws, b * lit(spanLen) + 1, lit(spanLen))
    val inputArr = flatten(transform(blocks, b =>
      when(sel(b), array(sentinel(kOf(b)))).otherwise(span(b))))
    val targetArr = flatten(transform(filter(blocks, b => sel(b)), b =>
      concat(array(sentinel(kOf(b))), span(b))))
    df.withColumn("n_blocks", coalesce(size(blocks).cast("long"), lit(0L)))
      .withColumn("n_masked",
        coalesce(size(filter(blocks, b => sel(b))).cast("long"), lit(0L)))
      .withColumn("inputs", array_join(inputArr, " "))
      .withColumn("targets", array_join(targetArr, " "))
  }

  /**
   * FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022, "Efficient
   * Training of Language Models to Fill in the Middle") — the code-model
   * data prep: split each document at two deterministic character
   * positions into (prefix, middle, suffix) and emit the PSM reordering
   * `<PRE>prefix<SUF>suffix<MID>middle`, so the model learns infilling
   * from an autoregressive objective. Cut points are the first 32 md5
   * bits of (doc:a) and (doc:b) mod (len+1) — pure functions of document
   * identity, so the transformation is reproducible across engines and
   * reruns (the same discipline as every sampler here; fully replayable
   * as hex/substring arithmetic in SQL). Apply to the `fimFraction` of
   * docs chosen by the same id-hash threshold; the rest pass through
   * unchanged (the paper's 50/50 recipe by default). One scan-local
   * projection; NULL text stays NULL.
   */
  def fimTransform(df: DataFrame, fimFraction: Double = 0.5,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(fimFraction > 0.0 && fimFraction <= 1.0,
      s"fimFraction out of (0,1]: $fimFraction")
    val t = col(textCol)
    val n = length(t)
    def cut(tag: String): Column =
      pmod(conv(substring(md5(concat(col(idCol).cast("string"), lit(tag))), 1, 8),
        16, 10).cast("long"), (n + 1).cast("long"))
    val a = cut(":a")
    val b = cut(":b")
    val lo = least(a, b).cast("int")
    val hi = greatest(a, b).cast("int")
    val psm = concat(lit("<PRE>"), t.substr(lit(1), lo),
      lit("<SUF>"), t.substr(hi + 1, n - hi),
      lit("<MID>"), t.substr(lo + 1, hi - lo))
    val selected =
      md5(col(idCol).cast("string")) < lit(Sampling.fractionThresholdHex(fimFraction))
    df.withColumn("fim", when(selected, 1L).otherwise(0L))
      .withColumn("transformed", when(selected, psm).otherwise(t))
  }

  /**
   * Write the corpus as TOKEN-balanced training shards — the trainer
   * hand-off artifact: one directory per (group, pack_id) where pack
   * assignment is [[packBudgeted]]'s conveyor contract (exclusive running
   * token sum div budget in id order), so every shard holds ≈`budgetTokens`
   * tokens (overrun ≤ one document's tail), shard membership is a pure
   * function of the data (reruns re-produce byte-identical shard sets),
   * and a trainer streams shard directories independently. Directory
   * layout = Spark partition columns, so reading one shard back prunes at
   * PLANNING time (PartitionFilters, no file of any other shard is
   * touched) — the same layout-as-index stance as the geohash and IVF
   * sinks. One shuffle (the per-group pack window), then a write
   * clustered by shard.
   */
  def writeTokenShards(df: DataFrame, path: String, budgetTokens: Long = 512L,
                       groupCols: Seq[String] = Seq("source"),
                       idCol: String = "doc_id", textCol: String = "text",
                       tokenCount: Column => Column = tokenCountWs): Unit = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("__cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"__cum div ${budgetTokens}L"))
      .drop("__cum")
      .repartition((groupCols :+ "pack_id").map(col): _*)
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite")
      .partitionBy(groupCols :+ "pack_id": _*)
      .parquet(path)
  }

  /**
   * Benchmark-contamination scan: which probe strings (eval-set n-grams,
   * canary phrases) appear in the corpus, in how many documents, and where
   * first. The probe list is broadcast (it is tiny by construction); the
   * corpus side is a single codegen'd `contains` scan — no shuffle of the
   * 100 TB side, one tiny aggregate of the matches.
   */
  def contaminationProbes(docs: DataFrame, probes: Seq[String],
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = probes.toDF("probe")
    docs.join(broadcast(p), contains(col(textCol), col("probe")))
      .groupBy(col("probe"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("first_doc"))
  }

  /**
   * Repetition statistics — the Gopher-family repetition quality signals
   * (duplicate lines, most-common-word dominance), emitted as INTEGER
   * counts so cross-engine verification is hash-exact; consumers derive
   * ratios (n_dup_lines / n_lines, top_word_count / n_words_alpha).
   * Line stats are scan-local (no shuffle); word dominance is one
   * (id, word) aggregation then a per-doc rollup — the gram-stream shape,
   * never a corpus self-join, so it scales like every other text pass.
   */
  def repetitionStats(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val lines = filter(transform(split(col(textCol), "\n"), x => trim(x)), x => x =!= "")
    val lineStats = df.select(col(idCol),
      size(lines).as("n_lines"),
      (size(lines) - size(array_distinct(lines))).as("n_dup_lines"))
    val words = df.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "[^a-z]+"), w => w =!= "")).as("w"))
    val wordAgg = words.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_word_count"),
        sum(col("c")).as("n_words_alpha"),
        count(lit(1)).as("n_distinct_words"))
    lineStats.join(wordAgg, Seq(idCol), "left")
      .na.fill(0L, Seq("top_word_count", "n_words_alpha", "n_distinct_words"))
  }

  /**
   * Gopher/MassiveText N-GRAM repetition signals (Rae et al. 2021 §A1.1
   * — the other half of [[repetitionStats]]'s duplicate-line suite):
   * per doc,
   *
   *  - for each n in `topNs` (Gopher: 2, 3, 4): characters attributable
   *    to the MOST COMMON token n-gram — occurrences × gram chars, where
   *    gram chars = length(gram) − (n−1) joining spaces; ties break to
   *    the lexicographically greatest gram (max struct semantics, which
   *    the oracle replays as ORDER BY count DESC, gram DESC);
   *  - for each n in `dupNs` (Gopher: 5..10): characters of tokens
   *    COVERED by at least one n-gram occurring ≥ 2 times in the doc —
   *    overlapping occurrences count a token once (an interval-union,
   *    computed as a range-frame window: token at position p is covered
   *    iff some duplicated gram STARTS in [p−n+1, p]);
   *  - `n_word_chars`: total token characters, the denominator Gopher
   *    divides by (kept integer here; ratios are one `div` away).
   *
   * Every count is integer-exact, so the gate hash-compares. Tokens are
   * the [[graft.text.TextCore.tokenNgramsAll]] contract (maximal
   * [a-z0-9] runs, lowercased); NULL/token-less docs report all zeros.
   *
   * Scale shape: gram streams explode scan-locally (native one-pass
   * expression, no per-gram slice trees); each top-n signal is two
   * map-side-combined aggregations of (doc, gram) counts; each dup-n
   * signal is one (doc, gram) window + one per-doc range window over
   * compact (pos, len) events — all shuffles carry token positions and
   * 16-ish-byte grams, never documents. Signals join back per doc id.
   */
  def repetitionNgramStats(df: DataFrame, topNs: Seq[Int] = Seq(2, 3, 4),
                           dupNs: Seq[Int] = Seq(5, 10),
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topNs.forall(_ >= 1) && dupNs.forall(_ >= 2), "invalid n")
    def gramsAll(t: Column, n: Int): Column = tokenNgramsAll(t, n)
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val charTotals = base.select(col("__id"),
      coalesce(aggregate(gramsAll(col("__t"), 1), lit(0L),
        (acc, w) => acc + length(w).cast("long")), lit(0L)).as("n_word_chars"))
    val topParts = topNs.map { n =>
      base.select(col("__id"), explode(gramsAll(col("__t"), n)).as("__g"))
        .groupBy(col("__id"), col("__g")).agg(count(lit(1)).as("__c"))
        .groupBy(col("__id"))
        .agg(max(struct(col("__c"), col("__g"))).as("__top"))
        .select(col("__id"),
          (col("__top.__c") * (length(col("__top.__g")) - lit(n - 1)).cast("long"))
            .as(s"top${n}_chars"))
    }
    val dupParts = dupNs.map { n =>
      val grams = base.select(col("__id"),
        posexplode(gramsAll(col("__t"), n)).as(Seq("__pos", "__g")))
      val starts = grams
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy(col("__id"), col("__g"))))
        .filter(col("__n") >= 2)
        .select(col("__id"), col("__pos"), lit(1L).as("__st"), lit(0L).as("__len"))
      val toks = base.select(col("__id"),
          posexplode(gramsAll(col("__t"), 1)).as(Seq("__pos", "__w")))
        .select(col("__id"), col("__pos"), lit(0L).as("__st"),
          length(col("__w")).cast("long").as("__len"))
      val cover = Window.partitionBy(col("__id")).orderBy(col("__pos"))
        .rangeBetween(-(n - 1), 0)
      starts.unionByName(toks)
        .withColumn("__cov", sum(col("__st")).over(cover))
        .filter(col("__len") > 0 && col("__cov") >= 1)
        .groupBy(col("__id"))
        .agg(sum(col("__len")).as(s"dup${n}_chars"))
    }
    (Seq(charTotals) ++ topParts ++ dupParts)
      .reduce((a, b) => a.join(b, Seq("__id"), "left"))
      .na.fill(0L)
      .withColumnRenamed("__id", idCol)
  }

  /**
   * Gopher repetition RULES at the published thresholds (Rae et al. 2021
   * Table A1 repetition rows): a doc PASSES a rule when the signal stays
   * at or below its threshold fraction of total word characters — most-
   * common 2/3/4-gram chars ≤ 20/18/16 %, duplicated 5/10-gram coverage
   * ≤ 15/10 %. Every rule is an integer cross-multiplication over
   * [[repetitionNgramStats]] counts (never a float division), so the 0/1
   * flags hash-compare cross-engine; `passes` is the conjunction
   * (product of flags). Token-less docs pass vacuously (0 ≤ 0) — the
   * word-count rule in [[gopherRules]] is the right gate for those.
   */
  def repetitionRules(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    def pass(num: Column, permille: Int): Column =
      when(num * 1000L <= col("n_word_chars") * permille.toLong, 1L).otherwise(0L)
    repetitionNgramStats(df, topNs = Seq(2, 3, 4), dupNs = Seq(5, 10),
        idCol = idCol, textCol = textCol)
      .select(col(idCol), col("n_word_chars"),
        pass(col("top2_chars"), 200).as("r_top2"),
        pass(col("top3_chars"), 180).as("r_top3"),
        pass(col("top4_chars"), 160).as("r_top4"),
        pass(col("dup5_chars"), 150).as("r_dup5"),
        pass(col("dup10_chars"), 100).as("r_dup10"))
      .withColumn("passes",
        col("r_top2") * col("r_top3") * col("r_top4") *
          col("r_dup5") * col("r_dup10"))
  }

  /**
   * N-gram-level contamination scan — the real decontamination practice
   * (eval-set leakage shows up as shared token n-grams long before exact
   * probe strings match): counts, per training doc, the DISTINCT token
   * `n`-grams it shares with the (small) eval set. The eval side reduces to
   * a distinct-gram dim table and BROADCASTS; the corpus side is one
   * explode + broadcast-hash join + per-doc count — the gram-stream shape,
   * no corpus shuffle beyond the final compact aggregation. Token n-grams
   * are lowercase alphanumeric words joined by single spaces, so the
   * operator is string-exact across engines.
   */
  def contaminationNgrams(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, "n must be positive")
    // native one-pass tokenize+gram+distinct: the composed higher-order
    // expression (sequence → slice → concat_ws, then array_distinct) built
    // a per-gram expression tree whose eval dominated the whole scan —
    // measured 3.8 s → 0.6 s warm on the sf0.1 gate corpus
    def ngrams(t: Column): Column = SqlFunctions.tokenNgrams(t, lit(n))
    val evalGrams = evalDocs.select(explode(ngrams(col(textCol))).as("gram")).distinct()
    val docGrams = docs.select(col(idCol), explode(ngrams(col(textCol))).as("gram"))
    docGrams.join(broadcast(evalGrams), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** Stopword alternation shared by [[withQualityScore]] and
    * [[gopherRules]] — a deliberate common subset that Java and RE2
    * regex engines tokenize identically. */
  val StopwordRegex: String =
    "\\b(the|and|of|to|in|is|that|it|was|for|on|are|with|as|at)\\b"

  /**
   * Gopher-style composite quality-rule filter (Rae et al. 2021 §A1.1,
   * the MassiveText heuristics), emitted as integer counts plus 0/1 rule
   * flags so the verdict is hash-exact across engines: every ratio rule is
   * expressed as an integer cross-multiplication (e.g. mean word length in
   * [3,10] ⇔ 3·n_words ≤ n_nonws_chars ≤ 10·n_words) — no floating-point
   * division anywhere, hence no cross-engine ulp risk.
   *
   * Rules (each `r_* = 1` when the document PASSES):
   *   - r_word_count:    minWords ≤ n_words ≤ maxWords
   *   - r_mean_word_len: mean word length in [3, 10] chars
   *   - r_symbol_ratio:  (#hash + #ellipsis) / n_words ≤ 0.1
   *   - r_bullet_lines:  ≤ 90% of non-empty lines start with a bullet
   *   - r_ellipsis_lines: ≤ 30% of non-empty lines end with an ellipsis
   *   - r_alpha_words:   ≥ 80% of words contain at least one letter
   *   - r_stopwords:     ≥ 2 DISTINCT stopwords from the common list
   * `passes` is their conjunction.
   *
   * Scale: one scan-local projection — no shuffle, no UDF; every count is
   * a codegen'd regexp/array expression, so this composes with any
   * downstream filter at 100 TB for the cost of the scan itself.
   */
  def gopherRules(df: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id",
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val words = split(trim(t), "\\s+")
    val nWords = size(words).cast("long")
    // total non-whitespace chars = sum of word lengths (mean-word-len numerator)
    val nNonWs = length(regexp_replace(t, "\\s+", "")).cast("long")
    val nHash = coalesce(regexp_count(t, lit("#")), lit(0)).cast("long")
    val nEllipsis = coalesce(regexp_count(t, lit("\\.{3}|\u2026")), lit(0)).cast("long")
    val lines = filter(transform(split(t, "\n"), x => trim(x)), x => x =!= "")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => l.rlike("^[-*\u2022]"))).cast("long")
    val nEllLines = size(filter(lines, l => l.rlike("(\\.{3}|\u2026)$"))).cast("long")
    val nAlphaWords = size(filter(words, w => w.rlike("[\\p{L}]"))).cast("long")
    val nStopDistinct = size(array_distinct(
      regexp_extract_all(lower(t), lit(StopwordRegex), lit(0)))).cast("long")
    def flag(cond: Column): Column = when(cond, 1L).otherwise(0L)
    val out = df.select(col(idCol), t)
      .withColumn("n_words", nWords)
      .withColumn("n_lines", nLines)
      .withColumn("r_word_count",
        flag(col("n_words").between(minWords.toLong, maxWords.toLong)))
      .withColumn("r_mean_word_len",
        flag(lit(3L) * col("n_words") <= nNonWs && nNonWs <= lit(10L) * col("n_words")))
      .withColumn("r_symbol_ratio", flag(lit(10L) * (nHash + nEllipsis) <= col("n_words")))
      .withColumn("r_bullet_lines", flag(lit(10L) * nBullet <= lit(9L) * col("n_lines")))
      .withColumn("r_ellipsis_lines", flag(lit(10L) * nEllLines <= lit(3L) * col("n_lines")))
      .withColumn("r_alpha_words", flag(lit(5L) * nAlphaWords >= lit(4L) * col("n_words")))
      .withColumn("r_stopwords", flag(nStopDistinct >= 2L))
    val ruleCols = Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
      "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words", "r_stopwords")
    out.withColumn("passes",
        flag(ruleCols.map(col(_) === 1L).reduce(_ && _)))
      .drop(textCol)
  }

  /**
   * Line-level boilerplate removal — the jusText-family pass (Pomikálek
   * 2011; the page-cleaning step C4 applies before document filtering):
   * drop navigation/ad/footer LINES while keeping prose. A non-blank line
   * is PROSE iff it has ≥ `minWords` words AND ends in terminal
   * punctuation ([.!?]) AND carries no URL AND is not shouty
   * (2·uppercase > letters); anything else non-blank is boilerplate.
   * Blank lines always stay, so paragraph structure survives — the same
   * structure-preserving stance as [[graft.pipeline.Dedup.dedupLines]]'
   * minLen rule. Every test is integer/regex-exact (counts compare via
   * cross-multiplication, never ratios), so decisions replay
   * bit-identically in an independent engine.
   *
   * Returns the input plus `cleaned` (prose + blank lines re-joined; NULL
   * text stays NULL), `n_lines` (non-blank), `n_boiler` (removed count,
   * 0 for NULL — the [[graft.pipeline.Dedup.removeSharedSpans]] totality
   * contract).
   *
   * Scale: one scan-local projection — split, three higher-order filters,
   * join back; no shuffle, no state, no UDF. At 100 TB this composes with
   * the scan like every rule pass here.
   */
  def removeBoilerplate(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", minWords: Int = 5): DataFrame = {
    require(minWords >= 1, "minWords must be positive")
    val lines = split(col(textCol), "\n")
    def blank(l: Column): Column = trim(l) === ""
    def prose(l: Column): Column = {
      val t = trim(l)
      val nWords = size(split(t, "\\s+")).cast("long")
      val nUpper = length(regexp_replace(l, "[^A-Z]", "")).cast("long")
      val nAlpha = length(regexp_replace(l, "[^A-Za-z]", "")).cast("long")
      nWords >= minWords.toLong && t.rlike("[.!?]$") &&
        instr(lower(l), "http://") === 0 && instr(lower(l), "https://") === 0 &&
        lit(2L) * nUpper <= nAlpha
    }
    val nonBlank = size(filter(lines, l => !blank(l))).cast("long")
    val kept = size(filter(lines, l => !blank(l) && prose(l))).cast("long")
    df.withColumn("cleaned",
        array_join(filter(lines, l => blank(l) || prose(l)), "\n"))
      .withColumn("n_lines", coalesce(nonBlank, lit(0L)))
      .withColumn("n_boiler", coalesce(nonBlank - kept, lit(0L)))
  }

  /**
   * Heuristic quality features + score in one projection:
   * length, word stats, punctuation/symbol/upper ratios, stopword hit rate.
   * Score mirrors the C4/Gopher-style hand rules: penalize very short docs,
   * symbol soup, and no-stopword text.
   */
  def withQualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val words = split(trim(t), "\\s+")
    val nWords = size(words)
    val meanWordLen = (nChars.cast("double") + lit(1.0)) / (nWords.cast("double") + lit(1.0))
    val nPunct = coalesce(regexp_count(t, lit("[.,;:!?]")), lit(0))
    val nSymbol = coalesce(regexp_count(t, lit("[^\\p{L}\\p{N}\\s.,;:!?'\"()-]")), lit(0))
    val nUpper = coalesce(regexp_count(t, lit("[A-Z]")), lit(0))
    val nStop = coalesce(regexp_count(lower(t), lit(StopwordRegex)), lit(0))
    df.withColumn("n_chars_m", nChars)
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", meanWordLen)
      .withColumn("punct_ratio", nPunct.cast("double") / (nChars.cast("double") + lit(1.0)))
      .withColumn("symbol_ratio", nSymbol.cast("double") / (nChars.cast("double") + lit(1.0)))
      .withColumn("upper_ratio", nUpper.cast("double") / (nChars.cast("double") + lit(1.0)))
      .withColumn("stopword_rate", nStop.cast("double") / (nWords.cast("double") + lit(1.0)))
      .withColumn("quality_score",
        greatest(lit(0.0), least(lit(1.0),
          lit(0.4) * least(nWords.cast("double") / lit(50.0), lit(1.0)) +
            lit(0.3) * least(col("stopword_rate") * lit(5.0), lit(1.0)) +
            lit(0.3) * greatest(lit(0.0), lit(1.0) - col("symbol_ratio") * lit(10.0)))))
  }

  /**
   * Per-group LEXICAL DIVERSITY report — the vocabulary-health pass run
   * next to [[corpusStats]] when auditing a training mix: a source whose
   * type-token ratio collapses (template spam, boilerplate mills) or
   * whose hapax share spikes (OCR noise, binary soup) earns a curation
   * look before it earns tokens. All integer:
   *
   *   - `n_docs` — documents in the group (null/empty-text docs count;
   *     they are corpus rows even when they tokenize to nothing)
   *   - `n_tokens` — total token occurrences ([a-z]+ runs of the
   *     lowercased text, the [[vocabStats]] tokenizer)
   *   - `n_types` — distinct tokens
   *   - `ttr_permille` — 1000·types div tokens (Templin '57 TTR)
   *   - `n_hapax` / `hapax_permille` — types occurring exactly ONCE in
   *     the group, and their share of types (Zipf-tail mass)
   *
   * Plan: scan-local tokenize/explode → ONE map-side-combined
   * (group, token) count — the token stream collapses to type rows
   * before it ever shuffles — → ONE per-group fold of those type rows;
   * doc counts ride a separate metadata-cheap aggregate broadcast back
   * on the group key. Nothing wider than (group, token, count) moves,
   * so the pass is corpus-linear at any scale.
   */
  def lexicalStats(df: DataFrame, groupCol: String = "source",
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val g = col(groupCol)
    val tok = df.select(g.as("grp"),
        explode(split(lower(coalesce(col(textCol), lit(""))), "[^a-z]+"))
          .as("token"))
      .filter(length(col("token")) >= 1)
      .groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val lex = tok.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
    val docs = df.groupBy(g.as("grp"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    docs.join(lex, Seq("grp"), "left")
      .select(col("grp").as(groupCol),
        col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
      .withColumn("ttr_permille",
        expr("(n_types * 1000) div greatest(n_tokens, 1)"))
      .withColumn("hapax_permille",
        expr("(n_hapax * 1000) div greatest(n_types, 1)"))
  }

  /**
   * Vocabulary drift between two corpus snapshots — the crawl-monitoring
   * report run before accepting a new dump into the training mix: for
   * each token, its frequency share (permille of all tokens) in the OLD
   * and NEW snapshot and the signed delta; top `topK` by |delta| (ties:
   * token asc). A spam infusion, a template change, or an encoding
   * regression shows up here as a handful of tokens grabbing share
   * before any downstream metric moves.
   *
   * All-integer (permille shares, signed delta), full-outer semantics
   * (a token present in only one snapshot reports a 0 share on the
   * other side — appearing and vanishing vocabulary is exactly the
   * signal). `minCount` floors one-off noise on the MAX of the two
   * counts, so a token must matter in at least one snapshot.
   *
   * Plan: each snapshot collapses to (token, count) map-side; one hash
   * join of the two bounded vocab tables; the top-k cut is a bounded
   * TakeOrdered. Nothing corpus-sized ever shuffles.
   */
  def vocabDrift(oldDf: DataFrame, newDf: DataFrame,
                 textCol: String = "text",
                 topK: Int = 20, minCount: Long = 5L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def counts(df: DataFrame): DataFrame =
      df.select(explode(split(lower(coalesce(col(textCol), lit(""))),
          "[^a-z]+")).as("token"))
        .filter(length(col("token")) >= 1)
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val o = counts(oldDf)
    val n = counts(newDf)
    val oTot = math.max(1L, o.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0))
    val nTot = math.max(1L, n.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0))
    o.withColumnRenamed("n", "n_old")
      .join(n.withColumnRenamed("n", "n_new"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .filter(greatest(col("n_old"), col("n_new")) >= minCount)
      .withColumn("share_old_permille", expr(s"(n_old * 1000) div ${oTot}L"))
      .withColumn("share_new_permille", expr(s"(n_new * 1000) div ${nTot}L"))
      .withColumn("delta_permille",
        col("share_new_permille") - col("share_old_permille"))
      .orderBy(abs(col("delta_permille")).desc, col("token").asc)
      .limit(topK)
  }

  /**
   * Per-group DISTINCTIVE terms by integer lift — the c-TF-IDF idea
   * (class-based TF-IDF, the BERTopic/corpus-exploration report): for
   * each group, the `topK` tokens whose in-group frequency share most
   * exceeds their corpus-wide share. Answers "what does source X talk
   * about that the rest of the corpus doesn't" — the first look at any
   * new source/cluster before deciding mixture weights or filters.
   *
   * All-integer scoring that never overflows on corpus-scale counts:
   * share_in_group = n_gt·1000 div n_g and share_global = n_t·1000 div N
   * are both ≤ 1000, so lift_permille = share_in_group·1000 div
   * max(share_global, 1) multiplies nothing wider than 10^6 — the naive
   * n_gt·N·1000 cross-product would overflow long at lake scale. Ties
   * (lift desc, token asc); `minCount` floors noise tokens.
   *
   * Plan: the token stream collapses to (group, token) counts map-side
   * (the [[lexicalStats]] shape); token totals and group totals are
   * grouped-once aggregates of THAT table (never the stream), broadcast
   * back; one bounded per-group window cuts topK. Nothing wider than
   * (group, token, count) ever shuffles.
   */
  def distinctiveTerms(df: DataFrame, groupCol: String = "source",
                       textCol: String = "text",
                       topK: Int = 10, minCount: Long = 5L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val gt = df.select(col(groupCol).as("grp"),
        explode(split(lower(coalesce(col(textCol), lit(""))), "[^a-z]+"))
          .as("token"))
      .filter(length(col("token")) >= 1)
      .groupBy(col("grp"), col("token"))
      .agg(count(lit(1)).as("n_gt"))
    val groupTotals = gt.groupBy(col("grp")).agg(sum(col("n_gt")).as("n_g"))
    val tokenTotals = gt.groupBy(col("token")).agg(sum(col("n_gt")).as("n_t"))
    val total = gt.agg(coalesce(sum(col("n_gt")), lit(0L)).as("n_total"))
    val scored = gt.filter(col("n_gt") >= minCount)
      .join(broadcast(groupTotals), "grp")
      .join(tokenTotals, "token")
      .crossJoin(broadcast(total))
      .withColumn("share_g", expr("(n_gt * 1000) div greatest(n_g, 1)"))
      .withColumn("share_all", expr("(n_t * 1000) div greatest(n_total, 1)"))
      .withColumn("lift_permille",
        expr("(share_g * 1000) div greatest(share_all, 1)"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("lift_permille").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("grp").as(groupCol), col("rank").cast("long").as("rank"),
        col("token"), col("n_gt").as("n_in_group"), col("lift_permille"))
  }
}
