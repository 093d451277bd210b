package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlFunctions

/**
 * One-call corpus curation — the composition a production training-data
 * pipeline runs, built from the individually-oracled operators in the
 * order that keeps every stage deterministic:
 *
 *  1. canonical text ([[TextAnalysis.normalizeText]]: NFC + lower +
 *     whitespace collapse) — the dedup key, so byte-different
 *     render-identical texts collapse;
 *  2. exact dedup on the canonical text ([[Dedup.exact]], keep = min id);
 *  3. optionally, near-duplicate drop: MinHash-LSH pairs →
 *     connected-component labels ([[Dedup.clusters]]) → non-representative
 *     ids anti-joined away;
 *  4. quality floor on [[TextAnalysis.withQualityScore]]'s score;
 *  5. leakage-free train/val/test labels ([[Sampling.deterministicSplit]]).
 *
 * Every stage is a pure function of row identity and text, so the whole
 * chain is reproducible across engines, partitionings, and reruns — the
 * property pinned per-operator by the driver's oracles, per-chain by
 * `q_curate` (stages 1-2-4-5 re-derived in one SQL), and end-to-end with
 * the near-dup stage by `CurationE2ESpec`.
 *
 * Scale shape: normalize/quality/split are scan-local projections; exact
 * dedup is one map-side-combined shuffle of (canon-hash) groups; the
 * near-dup stage shuffles signatures and pair ids, never the corpus
 * (see [[Dedup.minhashLshPairs]] / [[Dedup.clusters]]); the final joins
 * are on id sets orders of magnitude smaller than the corpus.
 */
object Curation {

  /** Knobs for [[curate]]; defaults mirror the gate configuration. */
  final case class Config(
      minQuality: Double = 0.3,
      dropNearDups: Boolean = true,
      nearDupThreshold: Double = 0.8,
      maxBucket: Int = 10000,
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /**
   * Returns the curated corpus: every surviving input row plus `canon`
   * (canonical text), the quality signal columns (`quality_score` et al,
   * see [[TextAnalysis.withQualityScore]]), and `split`.
   */
  def curate(df: DataFrame, config: Config = Config(),
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(config.minQuality >= 0.0 && config.minQuality <= 1.0,
      "minQuality must be in [0, 1]")
    val normed = df.withColumn("canon", TextAnalysis.normalizeText(col(textCol)))
    val keepExact = Dedup.exact(normed, idCol, Seq("canon"))
      .select(col("keep_id").as(idCol))
    val afterExact = normed.join(keepExact, idCol)
    val afterNear =
      if (!config.dropNearDups) afterExact
      else {
        val pairs = Dedup.minhashLshPairs(
          afterExact.select(col(idCol).as("doc_id"), col("canon").as("text")),
          "doc_id", "text",
          threshold = config.nearDupThreshold, maxBucket = config.maxBucket)
        val drop = Dedup.clusters(pairs.select(col("id_a"), col("id_b")))
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as(idCol))
        afterExact.join(drop, Seq(idCol), "left_anti")
      }
    val scored = TextAnalysis.withQualityScore(afterNear, textCol)
      .filter(col("quality_score") >= config.minQuality)
    Sampling.deterministicSplit(scored, idCol, config.splits)
  }

  /**
   * Per-source corpus report — the daily sanity dashboard every curation
   * pipeline materializes before and after each pass: document / null /
   * short-doc counts, character and whitespace-token totals, and the
   * longest document, all INTEGER so snapshots diff exactly across runs
   * and engines. One map-side-combined aggregate over the scan — at
   * 100 TB this is the cheapest full-corpus job there is, which is why
   * it brackets every expensive pass (drop rates fall out of diffing two
   * reports).
   */
  def corpusStats(df: DataFrame, groupCol: String = "source",
                  textCol: String = "text",
                  shortChars: Int = 100): DataFrame = {
    val t = col(textCol)
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(when(t.isNull, 1L).otherwise(0L)).as("n_null"),
      sum(when(t.isNull, 0L).otherwise(length(t).cast("long"))).as("total_chars"),
      sum(when(t.isNull, 0L)
        .otherwise(TextAnalysis.tokenCountWs(t).cast("long"))).as("total_tokens"),
      sum(when(t.isNotNull && length(t) < shortChars, 1L).otherwise(0L)).as("n_short"),
      max(length(t)).cast("long").as("max_chars"))
  }

  /**
   * Log2-bucketed document-length histogram per source — the length-
   * distribution report behind packing/chunking budget decisions (how much
   * of the corpus is shorter than one sequence? how heavy is the long
   * tail?). The bucket is the BIT LENGTH of the whitespace token count
   * (`length(bin(n))` — bucket b holds docs with n in [2^(b-1), 2^b), the
   * same integer `ilog2` idiom as the DSIR/LM cost tables, so the report
   * diffs exactly across engines and runs); NULL texts land in bucket -1
   * so the histogram stays total. Everything is integer; one map-side-
   * combined aggregate over the scan — [[corpusStats]]'s cost shape with
   * a two-column key of bounded cardinality (sources × ~60 buckets).
   */
  def lengthHistogram(df: DataFrame, groupCol: String = "source",
                      textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val n = TextAnalysis.tokenCountWs(t).cast("long")
    val bucket = when(t.isNull, lit(-1L)).otherwise(length(bin(n)).cast("long"))
    val nTok = when(t.isNull, 0L).otherwise(n)
    df.select(col(groupCol), bucket.as("len_bucket"), nTok.as("__n"))
      .groupBy(col(groupCol), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("total_tokens"),
        min(col("__n")).as("min_tokens"),
        max(col("__n")).as("max_tokens"))
  }

  /**
   * Per-source character-class composition report — the charset/script
   * dashboard next to [[corpusStats]]: how many characters are Latin
   * letters, digits, whitespace, other ASCII (punctuation), and
   * non-ASCII. Encoding corruption (mojibake), unexpected script mixes,
   * and markup-heavy sources all show up here as class-share shifts long
   * before any per-doc quality rule fires; web-curation pipelines (C4,
   * RefinedWeb) read exactly these shares when deciding per-source
   * handling. Classes are counted by deleting the complement class and
   * taking lengths — simple RE2-parity character classes only (the
   * [[Pii]] pattern contract), so both engines count identically; counts
   * are disjoint and sum to `total_chars` by construction (non_ascii =
   * chars − ascii; other_ascii = ascii − latin − digit − space). All
   * INTEGER, shares in permille of total (0 when a source is all-NULL);
   * one map-side-combined aggregate over the scan — [[corpusStats]]'s
   * cost shape at 100 TB.
   */
  def scriptRatio(df: DataFrame, groupCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def classCount(pattern: String): Column =
      when(t.isNull, 0L)
        .otherwise(length(regexp_replace(t, pattern, "")).cast("long"))
    val nChars = when(t.isNull, 0L).otherwise(length(t).cast("long"))
    df.select(col(groupCol),
        nChars.as("__c"),
        classCount("[^A-Za-z]").as("__latin"),
        classCount("[^0-9]").as("__digit"),
        classCount("[^\\s]").as("__space"),
        classCount("[\\x00-\\x7F]").as("__nonascii"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("total_chars"),
        sum(col("__latin")).as("n_latin"),
        sum(col("__digit")).as("n_digit"),
        sum(col("__space")).as("n_space"),
        (sum(col("__c")) - sum(col("__nonascii")) - sum(col("__latin")) -
          sum(col("__digit")) - sum(col("__space"))).as("n_other_ascii"),
        sum(col("__nonascii")).as("n_non_ascii"))
      .withColumn("latin_permille",
        expr("(n_latin * 1000) div greatest(total_chars, 1)"))
      .withColumn("non_ascii_permille",
        expr("(n_non_ascii * 1000) div greatest(total_chars, 1)"))
  }

  /**
   * Per-DOCUMENT script mix — the doc-granular sibling of [[scriptRatio]]:
   * web curation (C4/RefinedWeb family) drops or reroutes pages whose
   * text mixes scripts heavily (template chrome in one script, content
   * in another, or mojibake). `is_mixed` fires when BOTH Latin letters
   * and non-ASCII characters each hold ≥ `minPermille` of the doc's
   * characters — an integer cross-multiplication, so the flag
   * hash-compares cross-engine. Same simple character classes as
   * [[scriptRatio]] (RE2-parity, both engines count identically).
   * Scan-local projection, zero shuffles; NULL text reports all zeros
   * and is never mixed.
   */
  def scriptMix(df: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", minPermille: Int = 50): DataFrame = {
    require(minPermille >= 1 && minPermille <= 500, "minPermille in [1, 500]")
    val t = col(textCol)
    def classCount(pattern: String): Column =
      when(t.isNull, 0L)
        .otherwise(length(regexp_replace(t, pattern, "")).cast("long"))
    df.select(col(idCol),
        when(t.isNull, 0L).otherwise(length(t).cast("long")).as("total_chars"),
        classCount("[^A-Za-z]").as("n_latin"),
        classCount("[\\x00-\\x7F]").as("n_non_ascii"))
      .withColumn("latin_permille",
        expr("(n_latin * 1000) div greatest(total_chars, 1)"))
      .withColumn("non_ascii_permille",
        expr("(n_non_ascii * 1000) div greatest(total_chars, 1)"))
      .withColumn("is_mixed",
        when(col("n_latin") * 1000L >= col("total_chars") * minPermille.toLong &&
          col("n_non_ascii") * 1000L >= col("total_chars") * minPermille.toLong &&
          col("total_chars") > 0L, 1L).otherwise(0L))
  }

  /**
   * C4-style word/phrase blocklist stats (Raffel et al. JMLR'20 §2.2 —
   * the "bad words" page filter): per document, occurrence counts of a
   * small blocklist of words AND multi-word phrases, matched on WORD
   * BOUNDARIES over the [a-z]+ lowercase token stream (the
   * [[TextAnalysis.lexicalStats]] tokenizer, so "class" never trips
   * an "ass" entry and both engines tokenize identically).
   *
   * Matching: the token stream is rendered once as a double-space-joined
   * sentinel string (" t1  t2  ... "), each blocklist entry as the same
   * rendering of ITS tokens; entry occurrences = greedy non-overlapping
   * substring count via length arithmetic ((len − len(remove)) div
   * len(needle)) — the double separator gives every token a private
   * flanking space on each side, so adjacent repeats ("bad bad") count
   * twice while "badge" never matches "bad". Greedy non-overlap is the
   * contract for self-overlapping phrases ("a a" in "a a a" counts once).
   *
   * Output: (id, n_tokens, n_blocked, n_blocked_types, blocked_permille,
   * is_clean) — production keeps is_clean=1 rows (C4 drops any page with
   * one hit); the counts feed threshold tuning. Everything is a pure
   * scan-local projection over codegen'd higher-order functions — zero
   * shuffles, no UDF, text never leaves the scan — and all-integer, so
   * the whole report replays in any engine.
   */
  def blocklistStats(df: DataFrame, blocklist: Seq[String],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val needles = blocklist.map(normalizedNeedle)
    require(needles.forall(_.trim.nonEmpty), s"blocklist entry with no [a-z]+ tokens")
    val toks = array_remove(
      split(lower(coalesce(col(textCol), lit(""))), "[^a-z]+"), "")
    val padded = concat(lit(" "), array_join(toks, "  "), lit(" "))
    val hits = transform(lit(needles.toArray), nd =>
      (length(padded) - length(replace(padded, nd, lit("")))).cast("long")
        / length(nd).cast("long"))
    df.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        hits.cast("array<long>").as("__hits"))
      .withColumn("n_blocked", aggregate(col("__hits"), lit(0L), _ + _))
      .withColumn("n_blocked_types",
        size(filter(col("__hits"), _ > 0L)).cast("long"))
      .withColumn("blocked_permille",
        expr("(n_blocked * 1000) div greatest(n_tokens, 1)"))
      .withColumn("is_clean", when(col("n_blocked") === 0L, 1L).otherwise(0L))
      .drop("__hits")
  }

  /** The sentinel rendering shared by [[blocklistStats]]'s document and
    * entry sides: lowercase [a-z]+ tokens, double-space-joined, single
    * flanking spaces. Exposed so gates can embed the exact needle
    * literals in oracle SQL. */
  def normalizedNeedle(entry: String): String =
    " " + entry.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).mkString("  ") + " "

  /**
   * CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 §4.3): per
   * group (CCNet partitions by language), rank documents by a language-
   * model score and cut the ranking into `nBuckets` equal-frequency
   * buckets — CCNet keeps the "head"/"middle" perplexity terciles and
   * drops the "tail". Works over ANY per-doc integer score column (here:
   * [[TextAnalysis.lmSurprisal]]'s mean centibits-per-token, so lower =
   * more fluent, bucket 1 = head, exactly CCNet's orientation).
   *
   * Determinism: the window order (`scoreCol` ASC, `idCol` ASC) is total
   * because ids are unique, so standard-SQL NTILE (first `n mod k`
   * buckets get the extra row) assigns identically in any engine — the
   * oracle replays the same NTILE over the same total order.
   *
   * Scale shape: one shuffle of compact (id, group, score) triples on the
   * group key; the window sorts scores WITHIN a language, the same cost
   * class as CCNet's own per-language percentile cut. Heavily-skewed
   * group sizes (one dominant language) sort more rows in one partition;
   * the exact NTILE is the oracle-checkable reference semantics.
   */
  def perplexityBuckets(scored: DataFrame, groupCol: String = "lang",
                        scoreCol: String = "mean_centibits",
                        idCol: String = "doc_id",
                        nBuckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, "nBuckets must be at least 2")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    val b = ntile(nBuckets).over(w)
    scored.withColumn("bucket", b.cast("long"))
      .withColumn("bucket_label", bucketLabel(col("bucket"), nBuckets))
  }

  /** head / middle / tail label for a 1-based bucket index. */
  private def bucketLabel(bucket: Column, nBuckets: Int): Column =
    when(bucket === 1, "head")
      .when(bucket === nBuckets, "tail")
      .otherwise("middle")

  /**
   * Benchmark decontamination (Brown et al. NeurIPS'20 App. C — the
   * 13-word-gram collision rule; same posture in PaLM/Llama cards): a
   * training document is CONTAMINATED when it shares at least one word
   * n-gram with any document of the evaluation/benchmark set — the
   * train-test-leakage complement of near-dup dedup (a benchmark answer
   * quoted inside an otherwise-original page is invisible to
   * whole-document Jaccard but shares its 13-gram window). Emits one row
   * per corpus document: (doc_id, n_shared_grams — DISTINCT grams hit,
   * is_contaminated 0/1); the is_contaminated=1 ids are the anti-joinable
   * drop (or audit) list.
   *
   * Grams are `word_shingle_hashes` — the
   * corpus-standard [a-z]+ lowercase tokens, n-word windows, whole-text
   * gram under n tokens — so the report replays in any engine from the
   * shared tokenizer. Plan shape: the benchmark side (eval-set-sized by
   * nature) reduces to a DISTINCT gram-hash table and BROADCASTS; the
   * corpus explodes grams into a map-side broadcast-hash SEMI join, so
   * only the (rare) hit rows reach the one counting shuffle — the corpus
   * text itself never shuffles, and a 100 TB corpus pays one scan + a
   * hits-sized aggregate.
   */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String = "text",
                    ngramWords: Int = 13): DataFrame = {
    require(ngramWords >= 1, s"ngramWords must be >= 1, got $ngramWords")
    def grams(t: Column): Column = SqlFunctions.wordShingleHashes(t, lit(ngramWords))
    val bg = benchmark
      .select(explode(grams(col(benchTextCol))).as("gram")).distinct()
    val hits = corpus
      .select(col(idCol).as("doc_id"), explode(grams(col(textCol))).as("gram"))
      .join(broadcast(bg), Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_grams"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        when(coalesce(col("n_shared_grams"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("is_contaminated"))
  }
}
