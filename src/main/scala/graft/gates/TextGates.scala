package graft
package gates

import graft.pipeline.{Curation, Sampling, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures._

/** Text gates: tokenizers (word and BPE), corpus statistics, quality and
  * language signals, retrieval scoring and contamination. */
object TextGates {

  /** Contamination probe phrases: in-vocabulary 3-grams plus one guaranteed
    * miss (inner joins drop it identically on both sides). */
  val ContaminationProbes = Seq(
    "fast merge batch", "window spark order", "value table part",
    "quantum flux never")

  /** DuckDB replay of [[graft.pipeline.TextAnalysis.repetitionNgramStats]]
    * over the planted-repetition fixture: same tokenization, gram streams,
    * (count DESC, gram DESC) top pick, and (n−1)-preceding range-window
    * coverage union. */
  private val RepetitionNgramOracleSql: String = {
    def gram(n: Int) =
      s"g$n AS (SELECT doc_id, p AS pos, array_to_string(ws[p+1:p+$n], ' ') AS g " +
        s"FROM tk, unnest(generate_series(0, len(ws) - $n)) AS u(p)), "
    def top(n: Int) =
      s"t$n AS (SELECT doc_id, c * (length(g) - ${n - 1}) AS v FROM " +
        "(SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY c DESC, g DESC) AS rn " +
        s"FROM (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY doc_id, g)) " +
        "WHERE rn = 1), "
    def dup(n: Int) =
      s"d$n AS (SELECT doc_id, sum(len) AS v FROM " +
        "(SELECT doc_id, len, sum(st) OVER (PARTITION BY doc_id ORDER BY pos " +
        s"RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS cov FROM " +
        "(SELECT doc_id, pos, 1 AS st, 0 AS len FROM " +
        s"(SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, g) AS cc FROM g$n) " +
        "WHERE cc >= 2 " +
        "UNION ALL SELECT doc_id, pos, 0 AS st, length(w) AS len FROM tok)) " +
        "WHERE len > 0 AND cov >= 1 GROUP BY doc_id), "
    "WITH rt AS (SELECT doc_id, text || " +
      s"CASE WHEN doc_id % 5 = 0 THEN '${rep5Phrase + rep5Phrase}' ELSE '' END || " +
      s"CASE WHEN doc_id % 6 = 0 THEN '${rep10Phrase + rep10Phrase}' ELSE '' END AS text " +
      "FROM documents), " +
      "tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), " +
      "x -> x <> '') AS ws FROM rt), " +
      "tok AS (SELECT doc_id, p AS pos, ws[p+1] AS w " +
      "FROM tk, unnest(generate_series(0, len(ws) - 1)) AS u(p)), " +
      "nw AS (SELECT doc_id, sum(length(w)) AS v FROM tok GROUP BY doc_id), " +
      gram(2) + gram(3) + gram(4) + gram(5) + gram(10) +
      top(2) + top(3) + top(4) + dup(5) + dup(10).stripSuffix(", ") + " " +
      "SELECT d.doc_id, CAST(COALESCE(nw.v, 0) AS BIGINT) AS n_word_chars, " +
      "CAST(COALESCE(t2.v, 0) AS BIGINT) AS top2_chars, " +
      "CAST(COALESCE(t3.v, 0) AS BIGINT) AS top3_chars, " +
      "CAST(COALESCE(t4.v, 0) AS BIGINT) AS top4_chars, " +
      "CAST(COALESCE(d5.v, 0) AS BIGINT) AS dup5_chars, " +
      "CAST(COALESCE(d10.v, 0) AS BIGINT) AS dup10_chars " +
      "FROM documents d LEFT JOIN nw USING (doc_id) " +
      "LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id) " +
      "LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id) " +
      "LEFT JOIN d10 USING (doc_id)"
  }

  /** The BPE merge-loop replay over the distinct pre-tokens of
    * `occ(tok)`: `steps(tok, s)` seeds each token as the chr(31)-delimited
    * symbol string `symbols` (a SQL expression over `tok`), and each
    * recursion step splices the leftmost occurrence of the min-rank merge
    * of `m(lhs, rhs, rnk)` present in it — exactly graft.text.BpeCore's
    * contract. `fin(tok, s)` holds each token's fixpoint. Ends with ", ". */
  private def bpeMergeCtes(symbols: String): String =
    "vocab AS (SELECT DISTINCT tok FROM occ), " +
      "steps(tok, s) AS (" +
      s"SELECT tok, $symbols FROM vocab " +
      "UNION ALL " +
      "SELECT tok, substr(s, 1, idx - 1) || chr(31) || lhs || rhs || chr(31) " +
      "|| substr(s, idx + length(chr(31) || lhs || chr(31) || rhs || chr(31))) " +
      "FROM (SELECT st.tok, st.s, best.lhs, best.rhs, " +
      "strpos(st.s, chr(31) || best.lhs || chr(31) || best.rhs || chr(31)) AS idx " +
      "FROM steps st, LATERAL (SELECT m.lhs, m.rhs FROM m " +
      "WHERE strpos(st.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0 " +
      "ORDER BY m.rnk LIMIT 1) AS best) t), " +
      "fin AS (SELECT tok, s FROM steps t WHERE NOT EXISTS (SELECT 1 FROM m " +
      "WHERE strpos(t.s, chr(31) || m.lhs || chr(31) || m.rhs || chr(31)) > 0)), "

  /** The character-level seed: one symbol per char of `tok`. */
  private val BpeCharSymbols: String =
    "chr(31) || array_to_string(string_split(tok, ''), chr(31)) || chr(31)"

  /** The byte-level seed: each char of `tok` decomposed to its UTF-8
    * bytes by pure arithmetic, one chr(byte) symbol per byte. */
  private val BpeByteSymbols: String =
    "chr(31) || array_to_string(list_transform(string_split(tok, ''), c -> " +
      "CASE WHEN unicode(c) < 128 THEN c " +
      "WHEN unicode(c) < 2048 THEN chr(192 + unicode(c) // 64) || chr(31) || chr(128 + unicode(c) % 64) " +
      "WHEN unicode(c) < 65536 THEN chr(224 + unicode(c) // 4096) || chr(31) || " +
      "chr(128 + (unicode(c) // 64) % 64) || chr(31) || chr(128 + unicode(c) % 64) " +
      "ELSE chr(240 + unicode(c) // 262144) || chr(31) || chr(128 + (unicode(c) // 4096) % 64) || " +
      "chr(31) || chr(128 + (unicode(c) // 64) % 64) || chr(31) || chr(128 + unicode(c) % 64) END" +
      "), chr(31)) || chr(31)"

  /** `WITH RECURSIVE` over the BPE fixture's merge table `m(lhs, rhs,
    * rnk)` and the pre-tokenizer `pre(doc_id, ws)` over documents. */
  private val BpeHeadCtes: String =
    "WITH RECURSIVE " +
      s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValues}), " +
      "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
      "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM documents), "

  /** The Zipf unigram LM replay: top-200 vocab by (n DESC, token ASC),
    * integer bit costs length(bin(rank)) - 1, OOV cost floor(log2(V+1)),
    * and per-doc `sc(doc_id, ntok, sbits)`. */
  private val ZipfSurprisalCtes: String =
    "WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t " +
      "FROM documents), " +
      "cnt AS (SELECT t, count(*) AS n FROM tok GROUP BY t), " +
      "v AS (SELECT t, row_number() OVER (ORDER BY n DESC, t ASC) AS r " +
      "FROM cnt ORDER BY n DESC, t ASC LIMIT 200), " +
      "vc AS (SELECT t, CAST(length(bin(r)) - 1 AS BIGINT) AS cost FROM v), " +
      "par AS (SELECT CAST(length(bin(count(*) + 1)) - 1 AS BIGINT) AS oov FROM vc), " +
      "sc AS (SELECT k.doc_id, count(*) AS ntok, " +
      "sum(COALESCE(vc.cost, par.oov)) AS sbits " +
      "FROM tok k LEFT JOIN vc ON k.t = vc.t CROSS JOIN par GROUP BY k.doc_id)"

  /** Hashed-classifier features `feats(doc_id, f)`: whitespace unigrams
    * plus adjacent bigrams of each non-null doc. */
  private val FeatureCtes: String =
    "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws " +
      "FROM documents WHERE text IS NOT NULL), " +
      "uni AS (SELECT doc_id, unnest(ws) AS f FROM t), " +
      "bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1), " +
      "i -> ws[i] || ' ' || ws[i + 1])) AS f FROM t), " +
      "feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi), "

  /** Folds the merge-loop fixpoints `fin` back per doc of `occ(doc_id,
    * tok, widx)`: the BPE token count and the md5 of the chr(30)-joined
    * token sequence, for every doc of `docs` (0 and md5('') when empty). */
  private def bpeCountMd5Select(docs: String): String =
    "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n, " +
      "replace(substr(s, 2, length(s) - 2), chr(31), chr(30)) AS toks FROM fin), " +
      "perdoc AS (SELECT o.doc_id, sum(tc.n) AS n_tokens_bpe, " +
      "md5(string_agg(tc.toks, chr(30) ORDER BY o.widx)) AS tokens_md5 " +
      "FROM occ o JOIN tokcnt tc USING (tok) GROUP BY o.doc_id) " +
      "SELECT d.doc_id, CAST(coalesce(p.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe, " +
      "coalesce(p.tokens_md5, md5('')) AS tokens_md5 " +
      s"FROM $docs d LEFT JOIN perdoc p USING (doc_id)"

  /** Shared CTEs for the BPE-id oracles (q_text_token_ids, q_examples):
    * the fixture merge table, the pre-tokenizer, the recursive merge-loop
    * replay per distinct pre-token, the deterministic id mapping
    * (codepoint / 0x110000 + min forming rank), and the per-pre-token
    * comma-joined id strings. Callers append their own per-doc tail. */
  private val BpeIdsCtes: String =
    s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValues}), " +
      "formed AS (SELECT lhs || rhs AS tokstr, min(rnk) AS r FROM m GROUP BY 1), " +
      "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
      "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM documents), " +
      "occ AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS widx FROM pre), " +
      bpeMergeCtes(BpeCharSymbols) +
      "toklist AS (SELECT tok, unnest(string_split(substr(s, 2, length(s) - 2), chr(31))) AS t, " +
      "generate_subscripts(string_split(substr(s, 2, length(s) - 2), chr(31)), 1) AS ti FROM fin), " +
      "ids AS (SELECT tl.tok, tl.ti, CASE WHEN length(tl.t) = 1 " +
      "THEN CAST(unicode(tl.t) AS BIGINT) ELSE 1114112 + f.r END AS id " +
      "FROM toklist tl LEFT JOIN formed f ON f.tokstr = tl.t), " +
      "pertok AS (SELECT tok, string_agg(CAST(id AS VARCHAR), ',' ORDER BY ti) AS ids_str " +
      "FROM ids GROUP BY tok)"

  /** Corpus text + decomposed-accent and whitespace mess appended by doc_id
    * rule — the fixture half of q_text_normalize ("́" is the combining
    * acute: "CAFE"+U+0301 is the DEcomposed form NFC must compose). */
  private def normalizeFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("  CAFE\u0301\tMixed Case")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("\ntail  space   ")).otherwise(lit("")))

  /** Corpus text + multi-byte-char tails keyed on doc_id — the fixture half
    * of q_text_tokens_bpe_bytes (byte-level BPE must split these into UTF-8
    * byte symbols: 2-byte accents, a 3-byte ellipsis, a 4-byte emoji whose
    * final byte stays unmerged). */
  private def bpeByteFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit(" caf\u00e9 d\u00e9j\u00e0 vu\u2026")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit(" \uD83D\uDE00ok")).otherwise(lit("")))

  /** Corpus text rebuilt as a page with one line per boilerplate rule,
    * keyed on doc_id — the fixture half of q_boilerplate (the oracle
    * rebuilds the same text): the body gets terminal punctuation (kept
    * prose), then planted nav/url/shouty/short lines trip each rule, a
    * blank line tests structure preservation, and a second prose line
    * tests multi-keep. */
  private def boilerplateFixtureText: Column =
    concat(
      col("text"), lit("."),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("\nClick here to subscribe")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("\nVisit http://example.com/page for more details today."))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit("\nBREAKING NEWS UPDATES EVERY HOUR TODAY.")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit("\n\nThis closing paragraph is long enough and it ends properly."))
        .otherwise(lit("")))

  /** Corpus text + quality-rule-tripping tails by doc_id rule — the fixture
    * half of q_quality_rules (the oracle rebuilds the same text): stopword
    * tail flips r_stopwords, 10 bullet lines flip r_bullet_lines (10 of 11
    * lines > 90%), two "..." trailers flip r_ellipsis_lines and feed the
    * ellipsis-symbol count. */
  /** Planted n-gram repetition: the gate corpus has no natural repeated
    * ≥5-grams (checked), so docs keyed on doc_id get a doubled phrase —
    * 8 words twice (dup 5-grams) and 12 words twice (dup 10-grams). */
  // `final` with a literal → compile-time constants, safe to reference
  // from vals declared earlier in the object (no init-order NPE)
  private final val CjkTail =
    "数据清洗流水线质量检查数据清洗流水线质量检查数据清洗流水线质量检查数据清洗流水线质量检查"

  private final val rep5Phrase = " quick brown fox jumps over lazy dog again"

  private final val rep10Phrase = " one two three four five six seven eight nine ten eleven twelve"

  private def repetitionFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(5)) === 0, lit(rep5Phrase + rep5Phrase))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6)) === 0, lit(rep10Phrase + rep10Phrase))
        .otherwise(lit("")))

  private def qualityFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit(" the cat is on the mat and it was here")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit(Seq.fill(10)("\n- item").mkString)).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        lit("\ntrail one...\ntrail two...")).otherwise(lit("")))

  /** Corpus text with synthetic PII appended as pure functions of doc_id —
    * the fixture half of q_pii_redact (the oracle rebuilds the same text). */
  private def piiFixtureText: Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit(" call 555-"), (pmod(col("doc_id"), lit(900)) + 100).cast("string"),
          lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0.1"))).otherwise(lit("")))

  val all: Seq[Gate] = Seq(
    Gate("q_vocab_df", (s, d) =>
      TextAnalysis.vocabStats(Tables.table(s, d, "documents")),
      "SELECT term, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences " +
        "FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term " +
        "FROM documents) WHERE length(term) >= 3 " +
        "GROUP BY term ORDER BY n_occurrences DESC, term ASC LIMIT 100"),

    // one-pass Space-Saving heavy hitters over raw tokens: the shuffle
    // carries capacity-bounded sketches, never a (token, count) stream;
    // capacity 256 ≥ this corpus's 31-token vocabulary, so no eviction
    // fires and the sketch is EXACT (err 0) — the GROUP BY oracle holds;
    // the approximate regime's bounds are spec-tested
    Gate("q_heavy_hitters", (s, d) =>
      TextAnalysis.heavyHitters(
        Tables.table(s, d, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("token")),
        col("token"), capacity = 256, k = 20),
      // the sketch runs in its exact regime (capacity >= vocabulary), so
      // plain GROUP BY counts with the same (count DESC, item ASC) cut are
      // the oracle, and every max_err is exactly 0
      "SELECT t AS item, count(*) AS est_count, CAST(0 AS BIGINT) AS max_err " +
        "FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t " +
        "FROM documents) GROUP BY t ORDER BY est_count DESC, item ASC LIMIT 20"),

    // corpus-level frequent-PHRASE mining (boilerplate phrase lists, the
    // RefinedWeb "most common 3-grams" report): Space-Saving over the
    // ordered gram stream. Capacity 32768 ≥ 31³ — the gate corpus' fixed
    // 31-word vocabulary bounds distinct 3-grams COMBINATORIALLY, so the
    // sketch is in its exact regime at every gate scale and the GROUP BY
    // oracle is exact with err 0
    Gate("q_heavy_ngrams", (s, d) =>
      TextAnalysis.heavyHitters(
        Tables.table(s, d, "documents")
          .select(explode(TextAnalysis.tokenNgramsAll(col("text"), 3)).as("gram")),
        col("gram"), capacity = 32768, k = 25),
      // exact regime again (capacity ≥ the combinatorial 3-gram ceiling)
      "SELECT gram AS item, count(*) AS est_count, CAST(0 AS BIGINT) AS max_err " +
        "FROM (SELECT array_to_string(ws[p+1:p+3], ' ') AS gram FROM " +
        "(SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), " +
        "x -> x <> '') AS ws FROM documents) t, " +
        "unnest(generate_series(0, len(ws) - 3)) AS u(p)) " +
        "GROUP BY gram ORDER BY est_count DESC, item ASC LIMIT 25"),

    // per-source corpus report: integer counts/totals in ONE map-side-
    // combined aggregate — the pass that brackets every curation stage
    Gate("q_corpus_stats", (s, d) =>
      Curation.corpusStats(Tables.table(s, d, "documents")),
      "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        "CAST(sum(CASE WHEN text IS NULL THEN 0 ELSE length(text) END) AS BIGINT) AS total_chars, " +
        "CAST(sum(CASE WHEN text IS NULL THEN 0 ELSE " +
        "length(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS total_tokens, " +
        "CAST(sum(CASE WHEN text IS NOT NULL AND length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short, " +
        "CAST(max(length(text)) AS BIGINT) AS max_chars " +
        "FROM documents GROUP BY source"),

    // per-source lexical diversity: type/token/hapax counts + TTR and
    // hapax shares in permille — the vocabulary-health pass next to
    // corpus_stats; the token stream collapses to (source, type) rows
    // map-side before any shuffle
    Gate("q_lexical_stats", (s, d) =>
      TextAnalysis.lexicalStats(Tables.table(s, d, "documents")),
      "WITH tok AS (SELECT source AS grp, t.token AS token, count(*) AS cnt " +
        "FROM documents, unnest(list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '')) AS t(token) " +
        "GROUP BY 1, 2), " +
        "lex AS (SELECT grp, sum(cnt) AS n_tokens, count(*) AS n_types, " +
        "sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_hapax FROM tok GROUP BY 1), " +
        "docs AS (SELECT source AS grp, count(DISTINCT doc_id) AS n_docs " +
        "FROM documents GROUP BY 1) " +
        "SELECT docs.grp AS source, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(n_types, 0) AS BIGINT) AS n_types, " +
        "CAST(coalesce(n_hapax, 0) AS BIGINT) AS n_hapax, " +
        "CAST((coalesce(n_types, 0) * 1000) // greatest(coalesce(n_tokens, 0), 1) AS BIGINT) AS ttr_permille, " +
        "CAST((coalesce(n_hapax, 0) * 1000) // greatest(coalesce(n_types, 0), 1) AS BIGINT) AS hapax_permille " +
        "FROM docs LEFT JOIN lex ON docs.grp = lex.grp"),

    // vocabulary drift between two snapshots: even docs = old, odd = new
    // with a PLANTED drift term on doc_id % 10 = 5 (the spam-infusion /
    // template-change shape) — top-20 tokens by |share delta| in permille;
    // full-outer so appearing/vanishing vocabulary reports a 0 side
    Gate("q_vocab_drift", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val oldDf = docs.filter(col("doc_id") % 2 === 0)
      val newDf = docs.filter(col("doc_id") % 2 === 1)
        .withColumn("text", when(col("doc_id") % 10 === 5,
          concat(col("text"), lit(" driftterm driftterm")))
          .otherwise(col("text")))
      TextAnalysis.vocabDrift(oldDf, newDf, topK = 20)
    },
      // same [a-z]+ tokenizer ([[vocabStats]]'s), same type/hapax folds,
      // same permille arithmetic (// == div on the non-negative operands);
      // n_docs left-joins so a group with no tokens would still report
      // same split, same planted append, same permille-share deltas and
      // (|delta| desc, token asc) total-order cut
      "WITH oldt AS (SELECT text FROM documents WHERE doc_id % 2 = 0), " +
        "newt AS (SELECT CASE WHEN doc_id % 10 = 5 " +
        "THEN text || ' driftterm driftterm' ELSE text END AS text " +
        "FROM documents WHERE doc_id % 2 = 1), " +
        "oc AS (SELECT t.token, count(*) AS n_old FROM oldt, " +
        "unnest(list_filter(string_split_regex(lower(coalesce(text, '')), " +
        "'[^a-z]+'), x -> x <> '')) AS t(token) GROUP BY 1), " +
        "nc AS (SELECT t.token, count(*) AS n_new FROM newt, " +
        "unnest(list_filter(string_split_regex(lower(coalesce(text, '')), " +
        "'[^a-z]+'), x -> x <> '')) AS t(token) GROUP BY 1), " +
        "tots AS (SELECT greatest((SELECT sum(n_old) FROM oc), 1) AS ot, " +
        "greatest((SELECT sum(n_new) FROM nc), 1) AS nt), " +
        "j AS (SELECT coalesce(oc.token, nc.token) AS token, " +
        "coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new " +
        "FROM oc FULL OUTER JOIN nc ON oc.token = nc.token), " +
        "s AS (SELECT token, CAST(n_old AS BIGINT) AS n_old, " +
        "CAST(n_new AS BIGINT) AS n_new, " +
        "CAST((n_old * 1000) // tots.ot AS BIGINT) AS share_old_permille, " +
        "CAST((n_new * 1000) // tots.nt AS BIGINT) AS share_new_permille " +
        "FROM j, tots WHERE greatest(n_old, n_new) >= 5) " +
        "SELECT token, n_old, n_new, share_old_permille, share_new_permille, " +
        "share_new_permille - share_old_permille AS delta_permille FROM s " +
        "ORDER BY abs(share_new_permille - share_old_permille) DESC, token ASC " +
        "LIMIT 20"),

    // per-source distinctive terms by integer lift (c-TF-IDF report):
    // top-5 tokens whose in-group share most exceeds the corpus share —
    // overflow-safe two-stage permille arithmetic, (grp, token, count)
    // is the widest thing shuffled
    Gate("q_source_terms", (s, d) =>
      TextAnalysis.distinctiveTerms(Tables.table(s, d, "documents"),
        topK = 5),
      // same tokenizer, same two-stage permille lift, same (lift desc,
      // token asc) cut
      "WITH gt AS (SELECT source AS grp, t.token AS token, count(*) AS n_gt " +
        "FROM documents, unnest(list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '')) AS t(token) " +
        "GROUP BY 1, 2), " +
        "g AS (SELECT grp, sum(n_gt) AS n_g FROM gt GROUP BY 1), " +
        "tt AS (SELECT token, sum(n_gt) AS n_t FROM gt GROUP BY 1), " +
        "tot AS (SELECT sum(n_gt) AS n_total FROM gt), " +
        "s AS (SELECT gt.grp, gt.token, gt.n_gt, " +
        "(gt.n_gt * 1000) // greatest(g.n_g, 1) AS share_g, " +
        "(tt.n_t * 1000) // greatest(tot.n_total, 1) AS share_all " +
        "FROM gt JOIN g USING (grp) JOIN tt USING (token) CROSS JOIN tot " +
        "WHERE gt.n_gt >= 5), " +
        "r AS (SELECT grp, token, n_gt, " +
        "(share_g * 1000) // greatest(share_all, 1) AS lift_permille FROM s), " +
        "k AS (SELECT grp, token, n_gt, lift_permille, row_number() OVER (" +
        "PARTITION BY grp ORDER BY lift_permille DESC, token ASC) AS rn FROM r) " +
        "SELECT grp AS source, CAST(rn AS BIGINT) AS rank, token, " +
        "CAST(n_gt AS BIGINT) AS n_in_group, " +
        "CAST(lift_permille AS BIGINT) AS lift_permille FROM k WHERE rn <= 5"),

    // per-source character-class composition (charset/script dashboard):
    // disjoint integer class counts summing to total_chars, shares in
    // permille — encoding corruption and script mixes show up here first
    // per-DOC script mix over a planted-tail fixture: the corpus is
    // all-ASCII (checked), so doc_id % 4 == 0 appends a CJK tail — short
    // Latin docs flip to mixed, long ones stay under the 5% floor, and
    // the other docs stay pure; all counts integer, flag = cross-mult
    Gate("q_script_mix", (s, d) =>
      graft.pipeline.Curation.scriptMix(
        Tables.table(s, d, "documents").withColumn("text",
          concat(col("text"),
            when(pmod(col("doc_id"), lit(4)) === 0,
              lit(" " + CjkTail)).otherwise(lit("")))))
        .select(col("doc_id"), col("total_chars"), col("n_latin"),
          col("n_non_ascii"), col("latin_permille"),
          col("non_ascii_permille"), col("is_mixed")),
      // same complement-deletion class counts (DuckDB needs the 'g' flag —
      // Spark's regexp_replace is global by default), same disjointness
      // construction (other_ascii and non_ascii derived from totals)
      s"WITH rt AS (SELECT doc_id, text || CASE WHEN doc_id % 4 = 0 " +
        s"THEN ' $CjkTail' ELSE '' END AS text FROM documents), " +
        "t AS (SELECT doc_id, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(text) END AS c, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END AS lat, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) END AS na " +
        "FROM rt) " +
        "SELECT doc_id, CAST(c AS BIGINT) AS total_chars, " +
        "CAST(lat AS BIGINT) AS n_latin, CAST(na AS BIGINT) AS n_non_ascii, " +
        "(CAST(lat AS BIGINT) * 1000) // greatest(CAST(c AS BIGINT), 1) AS latin_permille, " +
        "(CAST(na AS BIGINT) * 1000) // greatest(CAST(c AS BIGINT), 1) AS non_ascii_permille, " +
        "CAST(CASE WHEN lat * 1000 >= c * 50 AND na * 1000 >= c * 50 AND c > 0 " +
        "THEN 1 ELSE 0 END AS BIGINT) AS is_mixed FROM t"),

    Gate("q_script_ratio", (s, d) =>
      Curation.scriptRatio(Tables.table(s, d, "documents")),
      "WITH t AS (SELECT source, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(text) END AS c, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END AS lat, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^0-9]', '', 'g')) END AS dig, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[^\\s]', '', 'g')) END AS sp, " +
        "CASE WHEN text IS NULL THEN 0 ELSE length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) END AS na " +
        "FROM documents) " +
        "SELECT source, CAST(sum(c) AS BIGINT) AS total_chars, " +
        "CAST(sum(lat) AS BIGINT) AS n_latin, " +
        "CAST(sum(dig) AS BIGINT) AS n_digit, " +
        "CAST(sum(sp) AS BIGINT) AS n_space, " +
        "CAST(sum(c) - sum(na) - sum(lat) - sum(dig) - sum(sp) AS BIGINT) AS n_other_ascii, " +
        "CAST(sum(na) AS BIGINT) AS n_non_ascii, " +
        "(CAST(sum(lat) AS BIGINT) * 1000) // greatest(CAST(sum(c) AS BIGINT), 1) AS latin_permille, " +
        "(CAST(sum(na) AS BIGINT) * 1000) // greatest(CAST(sum(c) AS BIGINT), 1) AS non_ascii_permille " +
        "FROM t GROUP BY source"),

    // C4-style bad-word/phrase blocklist report: word-boundary greedy
    // occurrence counts over the [a-z]+ token stream via the double-space
    // sentinel rendering — two single words, one two-word phrase that
    // hits (corpus bigrams exist), one entry that never hits (the
    // zero/clean path); all-integer, scan-local, zero shuffles
    Gate("q_blocklist", (s, d) =>
      Curation.blocklistStats(Tables.table(s, d, "documents"),
        Seq("slow", "big table", "hash value", "forbidden")),
      // same tokenizer, same double-space sentinel rendering, same greedy
      // non-overlapping length-arithmetic occurrence count per needle
      "WITH p AS (SELECT doc_id, " +
        "list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS toks " +
        "FROM documents), " +
        "s AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
        "' ' || array_to_string(toks, '  ') || ' ' AS pad FROM p), " +
        "h AS (SELECT doc_id, n_tokens, " +
        "list_transform([' slow ', ' big  table ', ' hash  value ', ' forbidden '], " +
        "nd -> (length(pad) - length(replace(pad, nd, ''))) // length(nd)) AS hits FROM s) " +
        "SELECT doc_id, n_tokens, " +
        "CAST(list_sum(hits) AS BIGINT) AS n_blocked, " +
        "CAST(len(list_filter(hits, x -> x > 0)) AS BIGINT) AS n_blocked_types, " +
        "CAST((list_sum(hits) * 1000) // greatest(n_tokens, 1) AS BIGINT) AS blocked_permille, " +
        "CAST(CASE WHEN list_sum(hits) = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_clean " +
        "FROM h"),

    // log2-bucketed length histogram: bucket = bit length of the token
    // count (ilog2 idiom — pure integer), NULL texts in bucket -1; the
    // distribution report behind packing/chunking budget choices
    Gate("q_length_histogram", (s, d) =>
      Curation.lengthHistogram(Tables.table(s, d, "documents")),
      // same bit-length bucket (length(bin(n))), same NULL policy, all
      // integer — the histogram diffs exactly across engines
      "WITH t AS (SELECT source, " +
        "CASE WHEN text IS NULL THEN -1 ELSE CAST(length(bin(" +
        "length(string_split_regex(trim(text), '\\s+')))) AS BIGINT) END AS len_bucket, " +
        "CASE WHEN text IS NULL THEN 0 ELSE " +
        "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) END AS n " +
        "FROM documents) " +
        "SELECT source, len_bucket, count(*) AS n_docs, " +
        "CAST(sum(n) AS BIGINT) AS total_tokens, " +
        "CAST(min(n) AS BIGINT) AS min_tokens, " +
        "CAST(max(n) AS BIGINT) AS max_tokens " +
        "FROM t GROUP BY source, len_bucket"),

    // tokenizer/vocabulary coverage: per-doc OOV counts against the
    // corpus-derived top-200 vocab — the LM cost machinery with costs 0
    // and OOV cost 1, so the scorer IS the counter; the oracle re-derives
    // the vocab and counts misses independently
    Gate("q_vocab_coverage", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.oovState(
        TextAnalysis.zipfVocab(docs, "text", topV = 200))
      val toks = split(trim(col("text")), "\\s+")
      docs.select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.lmSurprisal(toks, st).as("n_oov"))
        .withColumn("oov_permille", expr("(n_oov * 1000) div n_tokens"))
    },
      // vocab re-derived exactly as in q_lm_surprisal (top-200 by n DESC,
      // token ASC), then misses counted by the vocab left join
      "WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t " +
        "FROM documents), " +
        "cnt AS (SELECT t, count(*) AS n FROM tok GROUP BY t), " +
        "v AS (SELECT t FROM cnt ORDER BY n DESC, t ASC LIMIT 200), " +
        "sc AS (SELECT k.doc_id, count(*) AS ntok, " +
        "sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS noov " +
        "FROM tok k LEFT JOIN v ON k.t = v.t GROUP BY k.doc_id) " +
        "SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, " +
        "CAST(noov AS BIGINT) AS n_oov, " +
        "(CAST(noov AS BIGINT) * 1000) // CAST(ntok AS BIGINT) AS oov_permille " +
        "FROM sc"),

    // fastText-style hashed linear quality classifier: integer weights in
    // a broadcast table, features = unigrams + adjacent bigrams, bucket =
    // first 32 md5 bits mod B. The gate's weight table is a pure function
    // of the bucket id, so the oracle re-derives every weight AND every
    // bucket (md5-hex arithmetic) — it replays the whole scorer, not a
    // stored model
    Gate("q_quality_classifier", (s, d) => {
      val st = TextAnalysis.classifierState(s,
        Array.tabulate(4096)(b => (b % 21).toLong - 10L), bias = 5L)
      Tables.table(s, d, "documents").select(col("doc_id"),
          TextAnalysis.classifierScore(split(trim(col("text")), "\\s+"), st)
            .as("score"))
        .withColumn("label", when(col("score") >= 0L, 1L).otherwise(0L))
    },
      // full scorer replay: unigram + adjacent-bigram features, bucket =
      // first 32 md5 bits (hex-string arithmetic) mod 4096, weight re-derived
      // from the bucket id by the same formula, bias + integer sum
      FeatureCtes +
        "sc AS (SELECT doc_id, 5 + sum(" +
        "(CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 4096) % 21 - 10" +
        ") AS score FROM feats GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(sc.score AS BIGINT) AS score, " +
        "CAST(CASE WHEN sc.score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS label " +
        "FROM documents d LEFT JOIN sc USING (doc_id)"),

    // DSIR-style importance scoring: hashed n-gram bucket counts over a
    // target subset vs the raw corpus, integer bit-cost log-ratio weights
    // (ilog2(nt+1) − ilog2(nr+1)), scan-local scoring. Counting is the
    // FUSED single-scan path (target ⊂ raw ⇒ one conditional aggregate,
    // not two corpus reads). The oracle rebuilds buckets, both count
    // tables, the weights, AND the per-doc sums
    Gate("q_importance", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.importanceStateFused(
        docs, pmod(col("doc_id"), lit(10)) === 0, numBuckets = 4096)
      docs.select(col("doc_id"),
        TextAnalysis.classifierScore(split(trim(col("text")), "\\s+"), st)
          .as("imp_score"))
    },
      // full DSIR replay: features → md5 buckets → target/raw counts →
      // bit-cost weights length(bin(n+1))-1 → per-doc integer sums
      FeatureCtes +
        "buck AS (SELECT doc_id, CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS b " +
        "FROM feats), " +
        "tc AS (SELECT b, count(*) AS n FROM buck WHERE doc_id % 10 = 0 GROUP BY b), " +
        "rc AS (SELECT b, count(*) AS n FROM buck GROUP BY b), " +
        "w AS (SELECT rc.b, CAST(length(bin(COALESCE(tc.n, 0) + 1)) - 1 AS BIGINT) " +
        "- CAST(length(bin(rc.n + 1)) - 1 AS BIGINT) AS w FROM rc LEFT JOIN tc USING (b)), " +
        "sc AS (SELECT bu.doc_id, sum(w.w) AS s FROM buck bu JOIN w USING (b) GROUP BY bu.doc_id) " +
        "SELECT d.doc_id, CAST(sc.s AS BIGINT) AS imp_score " +
        "FROM documents d LEFT JOIN sc USING (doc_id)"),

    // CCNet-style LM quality scoring with an integer Zipf-surprisal LM
    // derived from the corpus itself: total/mean bits per doc, exact in
    // any engine (floor(log2 rank) is bit arithmetic, not a float log)
    Gate("q_lm_surprisal", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.lmStateFromVocab(
        TextAnalysis.zipfVocab(docs, "text", topV = 200))
      val toks = split(trim(col("text")), "\\s+")
      docs.select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.lmSurprisal(toks, st).as("surprisal_bits"))
        .withColumn("mean_centibits",
          expr("(surprisal_bits * 100) div n_tokens"))
    },
      // the oracle re-derives the WHOLE LM: token counts → top-200 vocab by
      // (n DESC, token ASC) → integer bit costs length(bin(rank))-1 → per-doc
      // left-join sum with the same OOV cost floor(log2(V+1))
      ZipfSurprisalCtes + " " +
        "SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, " +
        "CAST(sbits AS BIGINT) AS surprisal_bits, " +
        "(CAST(sbits AS BIGINT) * 100) // CAST(ntok AS BIGINT) AS mean_centibits " +
        "FROM sc"),

    // bigram-backoff LM (one rung up the KenLM ladder): in-table pairs pay
    // the bigram Zipf cost, others back off to unigram + a fixed integer
    // penalty; first token pays unigram. The oracle re-derives BOTH vocab
    // tables and replays the backoff CASE per (lag, token) pair
    Gate("q_lm_bigram", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.bigramLmStateFromVocab(
        TextAnalysis.zipfVocab(docs, "text", topV = 200),
        TextAnalysis.zipfBigramVocab(docs, "text", topB = 200),
        backoffCost = 3L)
      val toks = split(trim(col("text")), "\\s+")
      docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        TextAnalysis.lmSurprisalBigram(toks, st).as("surprisal_bits"))
    },
      // both vocab tables re-derived (top-200 by (n DESC, key ASC), bin()
      // bit costs), then the backoff CASE replayed per (lag, token) pair
      "WITH tok AS (SELECT doc_id, unnest(ws) AS t, generate_subscripts(ws, 1) AS i " +
        "FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents)), " +
        "cnt AS (SELECT t, count(*) AS n FROM tok GROUP BY t), " +
        "v AS (SELECT t, row_number() OVER (ORDER BY n DESC, t ASC) AS r " +
        "FROM cnt ORDER BY n DESC, t ASC LIMIT 200), " +
        "vc AS (SELECT t, CAST(length(bin(r)) - 1 AS BIGINT) AS cost FROM v), " +
        "par AS (SELECT CAST(length(bin(count(*) + 1)) - 1 AS BIGINT) AS oov FROM vc), " +
        "pair AS (SELECT doc_id, i, lag(t) OVER (PARTITION BY doc_id ORDER BY i) AS p, t FROM tok), " +
        "bcnt AS (SELECT p || ' ' || t AS pr, count(*) AS n FROM pair WHERE p IS NOT NULL GROUP BY 1), " +
        "bv AS (SELECT pr, row_number() OVER (ORDER BY n DESC, pr ASC) AS r " +
        "FROM bcnt ORDER BY n DESC, pr ASC LIMIT 200), " +
        "bc AS (SELECT pr, CAST(length(bin(r)) - 1 AS BIGINT) AS cost FROM bv), " +
        "sc AS (SELECT q.doc_id, count(*) AS ntok, sum(" +
        "CASE WHEN q.p IS NULL THEN COALESCE(vc.cost, par.oov) " +
        "WHEN bc.cost IS NOT NULL THEN bc.cost " +
        "ELSE 3 + COALESCE(vc.cost, par.oov) END) AS sbits " +
        "FROM pair q LEFT JOIN vc ON q.t = vc.t " +
        "LEFT JOIN bc ON q.p || ' ' || q.t = bc.pr " +
        "CROSS JOIN par GROUP BY q.doc_id) " +
        "SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, " +
        "CAST(sbits AS BIGINT) AS surprisal_bits FROM sc"),

    // CCNet-style per-language perplexity terciles (Wenzek et al. 2020
    // §4.3): the lm_surprisal chain scores fluency in integer centibits
    // per token; NTILE(3) over the total (score, doc_id) order per lang
    // labels head/middle/tail. The oracle re-derives the WHOLE LM chain
    // and replays the same NTILE over the same total order.
    Gate("q_ccnet_buckets", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val st = TextAnalysis.lmStateFromVocab(
        TextAnalysis.zipfVocab(docs, "text", topV = 200))
      val toks = split(trim(col("text")), "\\s+")
      val scored = docs.select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tokens"),
          TextAnalysis.lmSurprisal(toks, st).as("surprisal_bits"))
        .withColumn("mean_centibits",
          expr("(surprisal_bits * 100) div n_tokens"))
      graft.pipeline.Curation.perplexityBuckets(
          scored, "lang", "mean_centibits", "doc_id", nBuckets = 3)
        .select(col("doc_id"), col("lang"), col("mean_centibits"),
          col("bucket"), col("bucket_label"))
    },
      // re-derives the whole LM chain (the q_lm_surprisal oracle) and then
      // replays the SAME standard-SQL NTILE over the same total
      // (mean_centibits, doc_id) order per language
      ZipfSurprisalCtes + ", " +
        "scr AS (SELECT d.doc_id, d.lang, " +
        "(CAST(sc.sbits AS BIGINT) * 100) // CAST(sc.ntok AS BIGINT) AS mean_centibits " +
        "FROM documents d JOIN sc USING (doc_id)) " +
        "SELECT doc_id, lang, mean_centibits, " +
        "CAST(ntile(3) OVER (PARTITION BY lang ORDER BY mean_centibits, doc_id) AS BIGINT) AS bucket, " +
        "CASE ntile(3) OVER (PARTITION BY lang ORDER BY mean_centibits, doc_id) " +
        "WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS bucket_label " +
        "FROM scr"),

    Gate("q_contamination", (s, d) =>
      TextAnalysis.contaminationProbes(Tables.table(s, d, "documents"),
        ContaminationProbes),
      "SELECT probe, count(*) AS n_docs, min(doc_id) AS first_doc " +
        "FROM documents, (VALUES " +
        ContaminationProbes.map(p => s"('$p')").mkString(", ") +
        ") AS p(probe) WHERE contains(text, probe) GROUP BY probe"),

    // n-gram-level contamination: training docs sharing token 3-grams with
    // a deterministic eval slice (doc_id % 97 == 0); string-exact operator
    Gate("q_contamination_ngram", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      TextAnalysis.contaminationNgrams(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 3)
    },
      // token 3-grams re-derived in SQL; range(1, len-1) is empty for short
      // docs, matching the Spark guard
      "WITH toks AS (SELECT doc_id, " +
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w " +
        "FROM documents), " +
        "grams AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1), " +
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs FROM toks), " +
        "ev AS (SELECT DISTINCT unnest(gs) AS gram FROM grams WHERE doc_id % 97 = 0), " +
        "tr AS (SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 97 <> 0) " +
        "SELECT tr.doc_id, count(*) AS n_shared_ngrams FROM tr JOIN ev USING (gram) " +
        "GROUP BY tr.doc_id"),

    // TF-IDF keyword extraction; ratio-IDF keeps scores IEEE-exact across
    // engines (see TextAnalysis.tfidfTopTerms scaladoc)
    Gate("q_tfidf", (s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.table(s, d, "documents")),
      // identical IEEE tree to tfidfTopTerms: (tf_d * n_d) / df_d, ranked
      // (score DESC, term ASC) — deterministic because x/÷ are exact-specified
      "WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE length(term) >= 3 GROUP BY 1, 2), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "scored AS (SELECT doc_id, term, tf, df, " +
        "(CAST(tf AS DOUBLE) * CAST((SELECT count(*) FROM documents) AS DOUBLE)) / CAST(df AS DOUBLE) AS score " +
        "FROM tf JOIN dfreq USING (term)) " +
        "SELECT doc_id, rank, term, tf, df FROM " +
        "(SELECT doc_id, term, tf, df, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM scored) " +
        "WHERE rank <= 5"),

    // BM25 retrieval scoring (ratio Robertson idf — transcendental-free,
    // see TextAnalysis.bm25): top-20 docs for a 3-term query; scores are
    // bit-exact cross-engine because every op is an IEEE scalar performed
    // in the identical order, incl. the sorted-term fold
    Gate("q_bm25", (s, d) =>
      TextAnalysis.bm25(Tables.table(s, d, "documents"),
        Seq("merge", "window", "table"), topN = 20),
      // full BM25 replay: ratio idf (N-df+0.5)/(df+0.5), the k1/b constant
      // folds performed as SQL constant expressions (matching Scala's plan-
      // build folds bit-for-bit), and the per-doc sum as a sorted-term
      // ordered-list fold — every op an IEEE scalar in the identical order
      "WITH " + Bm25OracleCtes +
        " SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms, bm25 FROM g " +
        "ORDER BY bm25 DESC, doc_id ASC LIMIT 20"),

    // ranked-retrieval evaluation of the BM25 results against a derived
    // relevance truth (docs with >= 2 distinct matched terms): integer
    // recall/hits/first-rank counters — the measurement half of every
    // retriever here; rank is a 20-row post-limit window (not corpus-wide)
    Gate("q_retrieval_eval", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val terms = Seq("merge", "window", "table")
      val res = TextAnalysis.bm25(docs, terms, topN = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      val toks = split(trim(col("text")), "\\s+")
      val truth = docs.filter(
          size(array_distinct(filter(toks, t => t.isInCollection(terms)))) >= 2)
        .select(col("doc_id"))
      graft.pipeline.Evaluation.retrievalEval(
        res.select(col("doc_id"), col("rank")), truth)
    },
      // (bm25 DESC, doc_id) order, truth = docs with >= 2 distinct matched
      // terms, then hits/recall/first-rank re-derived with pure integers
      "WITH " + Bm25OracleCtes + ", " +
        "ranked AS (SELECT doc_id, rank FROM (SELECT doc_id, row_number() OVER " +
        "(ORDER BY bm25 DESC, doc_id ASC) AS rank FROM g) WHERE rank <= 20), " +
        "truth AS (SELECT doc_id FROM documents WHERE len(list_distinct(" +
        "list_filter(string_split_regex(trim(text), '\\s+'), " +
        "t -> t IN ('merge', 'window', 'table')))) >= 2), " +
        "m AS (SELECT count(*) AS n_retrieved, " +
        "sum(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits, " +
        "coalesce(min(CASE WHEN t.doc_id IS NOT NULL THEN r.rank END), 0) AS first_rel_rank " +
        "FROM ranked r LEFT JOIN truth t USING (doc_id)), " +
        "n AS (SELECT count(*) AS n_relevant FROM truth) " +
        "SELECT CAST(m.n_retrieved AS BIGINT) AS n_retrieved, " +
        "CAST(n.n_relevant AS BIGINT) AS n_relevant, " +
        "CAST(m.n_hits AS BIGINT) AS n_hits, " +
        "(CAST(m.n_hits AS BIGINT) * 1000) // CAST(n.n_relevant AS BIGINT) AS recall_permille, " +
        "CAST(m.first_rel_rank AS BIGINT) AS first_rel_rank FROM m, n"),

    // overlapping fixed-window chunking (stride < size)
    Gate("q_chunk", (s, d) =>
      TextAnalysis.chunk(Tables.table(s, d, "documents"), size = 256, stride = 192),
      // stride multiples below the text length: DuckDB end-exclusive range ==
      // Spark sequence(0, len-1, stride) for len >= 1
      "SELECT doc_id, CAST(off AS BIGINT) AS chunk_off, " +
        "substr(text, CAST(off AS INT) + 1, 256) AS chunk, " +
        "CAST(length(substr(text, CAST(off AS INT) + 1, 256)) AS BIGINT) AS chunk_len " +
        "FROM (SELECT doc_id, text, unnest(range(0, CAST(length(text) AS BIGINT), 192)) AS off " +
        "FROM documents)"),

    // deterministic sequence packing by cumulative token budget per source
    Gate("q_pack", (s, d) =>
      TextAnalysis.packBudgeted(Tables.table(s, d, "documents"),
        groupCols = Seq("source"), budgetTokens = 512L),
      // exclusive running token sum div budget — integer arithmetic end-to-end
      "WITH t AS (SELECT doc_id, source, " +
        "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, " +
        "COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) " +
        "SELECT doc_id, source, n_tokens, CAST(cum // 512 AS BIGINT) AS pack_id FROM c"),

    // the same packing denominated in REAL BPE tokens (the pluggable
    // tokenCount hook): the oracle replays the full merge loop per doc,
    // then the identical exclusive-cumsum pack arithmetic
    Gate("q_pack_bpe", (s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      TextAnalysis.packBudgeted(Tables.table(s, d, "documents"),
        groupCols = Seq("source"), budgetTokens = 512L,
        tokenCount = t => coalesce(TextAnalysis.tokenCountBpe(t, st), lit(0)))
    },
      // BPE-denominated packing: the q_text_tokens_bpe merge-loop replay
      // feeding q_pack's exclusive-cumsum arithmetic — the oracle derives
      // BOTH halves independently
      BpeHeadCtes +
        "occ AS (SELECT doc_id, unnest(ws) AS tok FROM pre), " +
        bpeMergeCtes(BpeCharSymbols) +
        "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n FROM fin), " +
        "perdoc AS (SELECT o.doc_id, sum(tc.n) AS n FROM occ o JOIN tokcnt tc USING (tok) GROUP BY o.doc_id), " +
        "cnt AS (SELECT d.doc_id, d.source, CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens " +
        "FROM documents d LEFT JOIN perdoc p USING (doc_id)), " +
        "c2 AS (SELECT doc_id, source, n_tokens, " +
        "COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM cnt) " +
        "SELECT doc_id, source, n_tokens, CAST(cum // 512 AS BIGINT) AS pack_id FROM c2"),

    Gate("q_text_tokens", (s, d) =>
      Tables.table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens_ws"),
          TextAnalysis.tokenCountBpeish(col("text")).as("n_tokens_bpeish"),
          length(col("text")).as("len_chars")),
      "SELECT doc_id, " +
        "CAST(length(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens_ws, " +
        "CAST(length(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]')) AS INT) AS n_tokens_bpeish, " +
        "CAST(length(text) AS INT) AS len_chars FROM documents"),

    // REAL merges-table BPE tokenization (graft.text.BpeCore contract):
    // the oracle re-derives both the count AND the full token-sequence md5
    // from the same merges table via a recursive CTE — one recursion row
    // per merge step — so the gate checks the merge loop end to end
    Gate("q_text_tokens_bpe", (s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      Tables.table(s, d, "documents").select(col("doc_id"),
        coalesce(TextAnalysis.tokenCountBpe(col("text"), st), lit(0))
          .cast("long").as("n_tokens_bpe"),
        coalesce(md5(array_join(TextAnalysis.tokenizeBpe(col("text"), st), "\u001E")),
          md5(lit(""))).as("tokens_md5"))
    },
      // full BPE replay: distinct pre-tokens run the merge loop as a
      // recursive CTE (state = chr(31)-delimited symbol string; each step
      // finds the min-rank pair PRESENT via strpos and splices its leftmost
      // occurrence — exactly graft.text.BpeCore's contract), then counts and
      // the chr(30)-joined token sequence fold back per document
      BpeHeadCtes +
        "occ AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS widx FROM pre), " +
        bpeMergeCtes(BpeCharSymbols) +
        bpeCountMd5Select("documents")),

    // per-language tokenizer fertility (BPE tokens / ws word, chars /
    // BPE token, integer permille) — the multilingual-tokenizer
    // diagnostic; the oracle replays the merge loop AND the report
    Gate("q_tokenizer_fertility", (s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      TextAnalysis.tokenizerFertility(Tables.table(s, d, "documents"), st)
        .select(col("lang"), col("n_docs"), col("n_bpe_tokens"),
          col("n_ws_tokens"), col("n_chars"), col("fertility_permille"),
          col("chars_per_token_permille"))
    },
      // the same merge-loop replay, reduced to counts and grouped by lang
      // with the identical integer permille arithmetic
      BpeHeadCtes +
        "occ AS (SELECT doc_id, unnest(ws) AS tok FROM pre), " +
        bpeMergeCtes(BpeCharSymbols) +
        "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n FROM fin), " +
        "perdoc AS (SELECT o.doc_id, sum(tc.n) AS nb " +
        "FROM occ o JOIN tokcnt tc USING (tok) GROUP BY o.doc_id), " +
        "base AS (SELECT d.lang, coalesce(p.nb, 0) AS nb, " +
        "length(string_split_regex(trim(d.text), '\\s+')) AS nw, " +
        "length(d.text) AS nc FROM documents d LEFT JOIN perdoc p USING (doc_id)) " +
        "SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(nb) AS BIGINT) AS n_bpe_tokens, " +
        "CAST(sum(nw) AS BIGINT) AS n_ws_tokens, " +
        "CAST(sum(nc) AS BIGINT) AS n_chars, " +
        "(CAST(sum(nb) AS BIGINT) * 1000) // greatest(CAST(sum(nw) AS BIGINT), 1) AS fertility_permille, " +
        "(CAST(sum(nc) AS BIGINT) * 1000) // greatest(CAST(sum(nb) AS BIGINT), 1) AS chars_per_token_permille " +
        "FROM base GROUP BY lang"),

    // BYTE-LEVEL BPE (the GPT-2 byte-level variant): initial symbols are
    // UTF-8 bytes rendered as chr(byte) chars, so multi-byte characters
    // (planted by the fixture tail) decompose and re-merge through byte
    // merges; the oracle rebuilds the same text and decomposes codepoints
    // to bytes with pure chr() arithmetic before the same merge loop
    Gate("q_text_tokens_bpe_bytes", (s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.byteTable, byteLevel = true)
      Tables.table(s, d, "documents")
        .withColumn("text", bpeByteFixtureText)
        .select(col("doc_id"),
          coalesce(TextAnalysis.tokenCountBpe(col("text"), st), lit(0))
            .cast("long").as("n_tokens_bpe"),
          coalesce(md5(array_join(TextAnalysis.tokenizeBpe(col("text"), st), "\u001E")),
            md5(lit(""))).as("tokens_md5"))
    },
      // byte-level merge-loop replay: the fixture text is rebuilt with chr()
      // codepoints, then each pre-token's chars decompose to UTF-8 bytes by
      // pure arithmetic (chr(byte) symbols) before the identical min-rank
      // leftmost-splice recursion over the byte-level merges table
      "WITH RECURSIVE " +
        s"m(lhs, rhs, rnk) AS (VALUES ${graft.text.BpeFixture.sqlValuesBytes}), " +
        "fx AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233) || ' d' || chr(233) || 'j' || chr(224) || " +
        "' vu' || chr(8230) ELSE '' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' ' || chr(128512) || 'ok' ELSE '' END AS text " +
        "FROM documents), " +
        "pre AS (SELECT doc_id, regexp_extract_all(coalesce(text, ''), " +
        "' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s') AS ws FROM fx), " +
        "occ AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS widx FROM pre), " +
        bpeMergeCtes(BpeByteSymbols) +
        bpeCountMd5Select("fx")),

    // fixed-length training examples: per-doc BPE ids + EOS, concatenated
    // in (md5(id), id) training order, cut into 64-token examples (partial
    // tail dropped) — the terminal LM data-prep step; the oracle replays
    // ids, order, the global cut, and every example's ordered id digest
    Gate("q_examples", (s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      TextAnalysis.buildExamples(Tables.table(s, d, "documents"), st,
        seqLen = 64, eosId = 2000000L)
    },
      // the same per-doc id replay, then the example cut re-derived from
      // first principles: EOS append, (md5(id), id) global order, direct
      // global row_number over the token stream, slice by p div 64, and
      // the ordered per-example id digest — full examples only
      "WITH RECURSIVE " + BpeIdsCtes + ", " +
        "perdoc AS (SELECT o.doc_id, string_agg(pt.ids_str, ',' ORDER BY o.widx) AS ids_str " +
        "FROM occ o JOIN pertok pt USING (tok) GROUP BY o.doc_id), " +
        "seqs AS (SELECT d.doc_id, coalesce(p.ids_str || ',', '') || '2000000' AS seq " +
        "FROM documents d LEFT JOIN perdoc p USING (doc_id)), " +
        "tok2 AS (SELECT doc_id, unnest(string_split(seq, ',')) AS tid, " +
        "generate_subscripts(string_split(seq, ','), 1) AS ti FROM seqs), " +
        "pos AS (SELECT tid, row_number() OVER " +
        "(ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id, ti) - 1 AS p FROM tok2), " +
        "g AS (SELECT p // 64 AS example_id, count(*) AS n, " +
        "md5(string_agg(tid, ',' ORDER BY p)) AS ids_md5 FROM pos GROUP BY p // 64) " +
        "SELECT CAST(example_id AS BIGINT) AS example_id, ids_md5 FROM g WHERE n = 64"),

    // vocab-id sequences — the format a trainer consumes; the oracle maps
    // every token through the same deterministic id scheme (codepoint /
    // 0x110000 + min forming rank) after replaying the merge loop
    Gate("q_text_token_ids", (s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      Tables.table(s, d, "documents").select(col("doc_id"),
        coalesce(md5(array_join(
          transform(TextAnalysis.tokenIdsBpe(col("text"), st), x => x.cast("string")),
          ",")), md5(lit(""))).as("ids_md5"))
    },
      // merge-loop replay + deterministic id mapping (formed = lhs||rhs →
      // min rank; single-codepoint tokens → unicode())
      "WITH RECURSIVE " + BpeIdsCtes + ", " +
        "perdoc AS (SELECT o.doc_id, md5(string_agg(pt.ids_str, ',' ORDER BY o.widx)) AS ids_md5 " +
        "FROM occ o JOIN pertok pt USING (tok) GROUP BY o.doc_id) " +
        "SELECT d.doc_id, coalesce(p.ids_md5, md5('')) AS ids_md5 " +
        "FROM documents d LEFT JOIN perdoc p USING (doc_id)"),

    // FIM (fill-in-the-middle): md5-deterministic cut points and PSM
    // reorder on the md5-threshold half of docs; the oracle replays cut
    // arithmetic, selection, and reassembly with hex/substr arithmetic
    Gate("q_fim", (s, d) =>
      TextAnalysis.fimTransform(Tables.table(s, d, "documents"))
        .select(col("doc_id"), col("fim"),
          md5(coalesce(col("transformed"), lit(""))).as("out_md5")),
      // cut points = first 32 md5 bits of (id:a)/(id:b) mod (len+1); PSM
      // reassembly and the 50% id-hash selection replayed in substr/hex
      // arithmetic
      {
      val hex = Sampling.fractionThresholdHex(0.5)
      def cut(tag: String) =
        s"CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '$tag'), 1, 8)) AS BIGINT) % (length(text) + 1)"
      "WITH c AS (SELECT doc_id, text, " +
        s"least(${cut(":a")}, ${cut(":b")}) AS lo, " +
        s"greatest(${cut(":a")}, ${cut(":b")}) AS hi, " +
        s"md5(CAST(doc_id AS VARCHAR)) < '$hex' AS sel FROM documents) " +
        "SELECT doc_id, CAST(CASE WHEN sel THEN 1 ELSE 0 END AS BIGINT) AS fim, " +
        "md5(coalesce(CASE WHEN sel THEN " +
        "'<PRE>' || substr(text, 1, CAST(lo AS INT)) || " +
        "'<SUF>' || substr(text, CAST(hi + 1 AS INT), CAST(length(text) - hi AS INT)) || " +
        "'<MID>' || substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT)) " +
        "ELSE text END, '')) AS out_md5 FROM c"
    }),

    // T5-style span corruption: stride-aligned token blocks masked by
    // md5(doc:block) threshold, ordinal sentinels, (inputs, targets)
    // pair emitted — the oracle replays selection, sentinel numbering,
    // and both reassemblies with the same list arithmetic
    Gate("q_span_corrupt", (s, d) =>
      TextAnalysis.spanCorrupt(Tables.table(s, d, "documents"), p = 0.25)
        .select(col("doc_id"), col("n_blocks"), col("n_masked"),
          md5(coalesce(col("inputs"), lit(""))).as("inputs_md5"),
          md5(coalesce(col("targets"), lit(""))).as("targets_md5")),
      // selection, sentinel ordinals, and both reassemblies replayed with
      // the same md5-threshold + list arithmetic (blocks of 3, p = 0.25)
      {
      val hex = Sampling.fractionThresholdHex(0.25)
      def sel(v: String) =
        s"md5(CAST(doc_id AS VARCHAR) || ':' || CAST($v AS VARCHAR)) < '$hex'"
      val ord = s"'<extra_id_' || CAST(len(list_filter(blocks[1:x], y -> ${sel("y")})) AS VARCHAR) || '>'"
      "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents), " +
        "b AS (SELECT doc_id, ws, generate_series(0, CAST(floor((len(ws) - 1) / 3.0) AS INT)) AS blocks FROM t) " +
        "SELECT doc_id, " +
        "CAST(coalesce(len(blocks), 0) AS BIGINT) AS n_blocks, " +
        s"CAST(coalesce(len(list_filter(blocks, x -> ${sel("x")})), 0) AS BIGINT) AS n_masked, " +
        "md5(coalesce(array_to_string(flatten(list_transform(blocks, x -> " +
        s"CASE WHEN ${sel("x")} THEN [$ord] " +
        "ELSE ws[x * 3 + 1 : x * 3 + 3] END)), ' '), '')) AS inputs_md5, " +
        "md5(coalesce(array_to_string(flatten(list_transform(" +
        s"list_filter(blocks, x -> ${sel("x")}), x -> " +
        s"[$ord] || ws[x * 3 + 1 : x * 3 + 3])), ' '), '')) AS targets_md5 " +
        "FROM b"
    }),

    // TOKEN-denominated chunking: conveyor cut (chunk = exclusive token
    // cumsum div budget) at pre-token boundaries; the oracle replays the
    // merge loop for per-pretoken counts, the window cumsum, and the
    // ordered chunk reassembly md5 — the whole slicer, independently
    Gate("q_chunk_tokens", (s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      TextAnalysis.chunkByTokens(Tables.table(s, d, "documents"), st, maxTokens = 8L)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          md5(col("chunk")).as("chunk_md5"))
    },
      // merge-loop replay for per-pretoken counts, then the conveyor cut as
      // one window cumsum (chunk = exclusive cum // 8) and ordered reassembly
      BpeHeadCtes +
        "occ AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS widx FROM pre), " +
        bpeMergeCtes(BpeCharSymbols) +
        "tokcnt AS (SELECT tok, length(s) - length(replace(s, chr(31), '')) - 1 AS n FROM fin), " +
        "cum AS (SELECT o.doc_id, o.tok, o.widx, tc.n, " +
        "COALESCE(SUM(tc.n) OVER (PARTITION BY o.doc_id ORDER BY o.widx " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c " +
        "FROM occ o JOIN tokcnt tc USING (tok)), " +
        "ch AS (SELECT doc_id, c // 8 AS cid, CAST(sum(n) AS BIGINT) AS n_tokens, " +
        "md5(string_agg(tok, '' ORDER BY widx)) AS chunk_md5 " +
        "FROM cum GROUP BY doc_id, c // 8) " +
        "SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY cid) - 1 AS chunk_idx, " +
        "n_tokens, chunk_md5 FROM ch"),

    // DETOKENIZE — decode(encode(text)) must equal text byte-for-byte for
    // every document: the oracle is the identity md5, which checks the
    // decode path end-to-end because the encode path is independently
    // oracled by q_text_token_ids (same table, same id scheme)
    Gate("q_text_detok", (s, d) => {
      val st = TextAnalysis.bpeState(s, graft.text.BpeFixture.merges)
      Tables.table(s, d, "documents").select(col("doc_id"),
        coalesce(md5(TextAnalysis.detokenizeBpe(
          TextAnalysis.tokenIdsBpe(col("text"), st), st)), md5(lit("")))
          .as("detok_md5"))
    },
      // round-trip contract: decode(encode(text)) == text, so the oracle is
      // the identity md5 — the strongest possible independent check of the
      // decode path given encode is separately oracled (q_text_token_ids)
      "SELECT doc_id, md5(coalesce(text, '')) AS detok_md5 FROM documents"),

    Gate("q_text_quality", (s, d) =>
      TextAnalysis.withQualityScore(Tables.table(s, d, "documents"), "text")
        .select(col("doc_id"), col("n_words"),
          round(col("quality_score") * 1000).cast("long").as("quality_milli")),
      // same IEEE expression tree as TextAnalysis.withQualityScore; DuckDB
      // len() is BIGINT so n_words casts down to Spark's int
      "WITH f AS (SELECT doc_id, length(text) AS n_chars, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_words, " +
        "len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s.,;:!?''\"()-]')) AS n_symbol, " +
        "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for|on|are|with|as|at)\\b')) AS n_stop " +
        "FROM documents) " +
        "SELECT doc_id, CAST(n_words AS INTEGER) AS n_words, " +
        "CAST(round(greatest(0.0, least(1.0, " +
        "0.4 * least(CAST(n_words AS DOUBLE) / 50.0, 1.0) " +
        "+ 0.3 * least((CAST(n_stop AS DOUBLE) / (CAST(n_words AS DOUBLE) + 1.0)) * 5.0, 1.0) " +
        "+ 0.3 * greatest(0.0, 1.0 - (CAST(n_symbol AS DOUBLE) / (CAST(n_chars AS DOUBLE) + 1.0)) * 10.0)" +
        ")) * 1000) AS BIGINT) AS quality_milli FROM f"),

    Gate("q_text_fingerprint", (s, d) =>
      Tables.table(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.canonicalHash(col("text")).as("canon_md5")),
      "SELECT doc_id, md5(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')) AS canon_md5 " +
        "FROM documents"),

    // Gopher-style repetition signals: duplicate-line counts + most-common-
    // word dominance, integer-exact for the oracle hash compare
    Gate("q_text_repetition", (s, d) =>
      TextAnalysis.repetitionStats(Tables.table(s, d, "documents"))
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          col("top_word_count"), col("n_words_alpha"), col("n_distinct_words")),
      "WITH lines AS (SELECT doc_id, " +
        "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls " +
        "FROM documents), " +
        "lstats AS (SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, " +
        "CAST(len(ls) - len(list_distinct(ls)) AS INT) AS n_dup_lines FROM lines), " +
        "words AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents), " +
        "wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w), " +
        "wagg AS (SELECT doc_id, max(c) AS top_word_count, CAST(sum(c) AS BIGINT) AS n_words_alpha, " +
        "count(*) AS n_distinct_words FROM wc GROUP BY doc_id) " +
        "SELECT l.doc_id, l.n_lines, l.n_dup_lines, " +
        "COALESCE(w.top_word_count, 0) AS top_word_count, " +
        "COALESCE(w.n_words_alpha, 0) AS n_words_alpha, " +
        "COALESCE(w.n_distinct_words, 0) AS n_distinct_words " +
        "FROM lstats l LEFT JOIN wagg w USING (doc_id)"),

    // Gopher n-gram REPETITION signals (most-common-gram chars for n=2,3,4;
    // duplicated-gram token coverage for n=5,10) over the planted-repetition
    // fixture; the oracle re-derives every stream, count, and range-window
    Gate("q_repetition_ngram", (s, d) =>
      TextAnalysis.repetitionNgramStats(
        Tables.table(s, d, "documents").withColumn("text", repetitionFixtureText))
        .select(col("doc_id"), col("n_word_chars"), col("top2_chars"),
          col("top3_chars"), col("top4_chars"), col("dup5_chars"),
          col("dup10_chars")),
      RepetitionNgramOracleSql),

    // the published Gopher thresholds applied to those signals — integer
    // cross-multiplication flags, conjunction as a product
    Gate("q_repetition_rules", (s, d) =>
      TextAnalysis.repetitionRules(
        Tables.table(s, d, "documents").withColumn("text", repetitionFixtureText))
        .select(col("doc_id"), col("n_word_chars"), col("r_top2"), col("r_top3"),
          col("r_top4"), col("r_dup5"), col("r_dup10"), col("passes")),
      // the signal replay wrapped with the published-threshold flag
      // arithmetic (integer cross-multiplications, product conjunction)
      s"WITH base AS ($RepetitionNgramOracleSql) " +
        "SELECT doc_id, n_word_chars, " +
        "CAST(CASE WHEN top2_chars * 1000 <= n_word_chars * 200 THEN 1 ELSE 0 END AS BIGINT) AS r_top2, " +
        "CAST(CASE WHEN top3_chars * 1000 <= n_word_chars * 180 THEN 1 ELSE 0 END AS BIGINT) AS r_top3, " +
        "CAST(CASE WHEN top4_chars * 1000 <= n_word_chars * 160 THEN 1 ELSE 0 END AS BIGINT) AS r_top4, " +
        "CAST(CASE WHEN dup5_chars * 1000 <= n_word_chars * 150 THEN 1 ELSE 0 END AS BIGINT) AS r_dup5, " +
        "CAST(CASE WHEN dup10_chars * 1000 <= n_word_chars * 100 THEN 1 ELSE 0 END AS BIGINT) AS r_dup10, " +
        "CAST((CASE WHEN top2_chars * 1000 <= n_word_chars * 200 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN top3_chars * 1000 <= n_word_chars * 180 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN top4_chars * 1000 <= n_word_chars * 160 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN dup5_chars * 1000 <= n_word_chars * 150 THEN 1 ELSE 0 END) * " +
        "(CASE WHEN dup10_chars * 1000 <= n_word_chars * 100 THEN 1 ELSE 0 END) AS BIGINT) AS passes " +
        "FROM base"),

    // Gopher/MassiveText composite quality RULES (Rae et al. 2021 §A1.1):
    // every ratio rule is an integer cross-multiplication, so the 0/1
    // verdict flags are hash-exact — the oracle re-derives each rule from
    // the same counts with the same arithmetic. The corpus is stopword-poor
    // word soup, so fixture tails (stopword-rich / bullet-list / ellipsis
    // trailer, keyed on doc_id) make every rule flip both ways
    Gate("q_quality_rules", (s, d) =>
      TextAnalysis.gopherRules(
          Tables.table(s, d, "documents").withColumn("text", qualityFixtureText))
        .select(col("doc_id"), col("n_words"), col("n_lines"),
          col("r_word_count"), col("r_mean_word_len"), col("r_symbol_ratio"),
          col("r_bullet_lines"), col("r_ellipsis_lines"), col("r_alpha_words"),
          col("r_stopwords"), col("passes")),
      // same integer cross-multiplication arithmetic as TextAnalysis.gopherRules,
      // over the same rebuilt fixture text
      "WITH fx AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' the cat is on the mat and it was here' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN repeat(chr(10) || '- item', 10) ELSE '' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'trail one...' || chr(10) || 'trail two...' ELSE '' END " +
        "AS text FROM documents), " +
        "f AS (SELECT doc_id, text, " +
        "regexp_split_to_array(trim(text), '\\s+') AS ws, " +
        "list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls " +
        "FROM fx), " +
        "c AS (SELECT doc_id, " +
        "CAST(len(ws) AS BIGINT) AS n_words, " +
        "CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonws, " +
        "CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash, " +
        "CAST(len(regexp_extract_all(text, '\\.{3}|\u2026')) AS BIGINT) AS n_ell, " +
        "CAST(len(ls) AS BIGINT) AS n_lines, " +
        "CAST(len(list_filter(ls, x -> regexp_matches(x, '^[-*\u2022]'))) AS BIGINT) AS n_bullet, " +
        "CAST(len(list_filter(ls, x -> regexp_matches(x, '(\\.{3}|\u2026)$'))) AS BIGINT) AS n_ell_lines, " +
        "CAST(len(list_filter(ws, w -> regexp_matches(w, '[\\p{L}]'))) AS BIGINT) AS n_alpha_words, " +
        "CAST(len(list_distinct(regexp_extract_all(lower(text), " +
        "'\\b(the|and|of|to|in|is|that|it|was|for|on|are|with|as|at)\\b'))) AS BIGINT) AS n_stop " +
        "FROM f), " +
        "r AS (SELECT doc_id, n_words, n_lines, " +
        "CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_word_count, " +
        "CASE WHEN 3 * n_words <= n_nonws AND n_nonws <= 10 * n_words THEN 1 ELSE 0 END AS r_mean_word_len, " +
        "CASE WHEN 10 * (n_hash + n_ell) <= n_words THEN 1 ELSE 0 END AS r_symbol_ratio, " +
        "CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END AS r_bullet_lines, " +
        "CASE WHEN 10 * n_ell_lines <= 3 * n_lines THEN 1 ELSE 0 END AS r_ellipsis_lines, " +
        "CASE WHEN 5 * n_alpha_words >= 4 * n_words THEN 1 ELSE 0 END AS r_alpha_words, " +
        "CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stopwords FROM c) " +
        "SELECT doc_id, n_words, n_lines, " +
        "CAST(r_word_count AS BIGINT) AS r_word_count, " +
        "CAST(r_mean_word_len AS BIGINT) AS r_mean_word_len, " +
        "CAST(r_symbol_ratio AS BIGINT) AS r_symbol_ratio, " +
        "CAST(r_bullet_lines AS BIGINT) AS r_bullet_lines, " +
        "CAST(r_ellipsis_lines AS BIGINT) AS r_ellipsis_lines, " +
        "CAST(r_alpha_words AS BIGINT) AS r_alpha_words, " +
        "CAST(r_stopwords AS BIGINT) AS r_stopwords, " +
        "CAST(CASE WHEN r_word_count + r_mean_word_len + r_symbol_ratio + r_bullet_lines " +
        "+ r_ellipsis_lines + r_alpha_words + r_stopwords = 7 THEN 1 ELSE 0 END AS BIGINT) AS passes " +
        "FROM r"),

    // jusText-style line-level boilerplate removal: per-line integer/regex
    // rules (word count, terminal punctuation, URL, shouty-caps), blank
    // lines preserved. The fixture plants one line per rule keyed on
    // doc_id so every rule removes AND keeps lines at the gate scale; the
    // oracle replays the identical rules in list_filter lambdas and
    // re-derives the cleaned-text md5 independently
    Gate("q_boilerplate", (s, d) =>
      TextAnalysis.removeBoilerplate(
          Tables.table(s, d, "documents").withColumn("text", boilerplateFixtureText))
        .select(col("doc_id"), col("n_lines"), col("n_boiler"),
          md5(coalesce(col("cleaned"), lit(""))).as("clean_md5")),
      // line-rule replay: rebuild the same fixture page, classify every line
      // with the identical integer/regex rules inside list_filter lambdas,
      // and re-derive counts + the cleaned-text md5 independently
      "WITH fx AS (SELECT doc_id, text || '.' || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Click here to subscribe' ELSE '' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Visit http://example.com/page for more details today.' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'BREAKING NEWS UPDATES EVERY HOUR TODAY.' ELSE '' END || " +
        "CASE WHEN doc_id % 7 = 0 THEN chr(10) || chr(10) || 'This closing paragraph is long enough and it ends properly.' ELSE '' END " +
        "AS text FROM documents), " +
        "l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM fx), " +
        "k AS (SELECT doc_id, " +
        "list_filter(ls, x -> trim(x) <> '') AS nonblank, " +
        "list_filter(ls, x -> trim(x) <> '' AND " +
        "length(string_split_regex(trim(x), '\\s+')) >= 5 AND " +
        "regexp_matches(trim(x), '[.!?]$') AND " +
        "strpos(lower(x), 'http://') = 0 AND strpos(lower(x), 'https://') = 0 AND " +
        "2 * length(regexp_replace(x, '[^A-Z]', '', 'g')) <= length(regexp_replace(x, '[^A-Za-z]', '', 'g'))" +
        ") AS prose, " +
        "list_filter(ls, x -> trim(x) = '' OR (" +
        "length(string_split_regex(trim(x), '\\s+')) >= 5 AND " +
        "regexp_matches(trim(x), '[.!?]$') AND " +
        "strpos(lower(x), 'http://') = 0 AND strpos(lower(x), 'https://') = 0 AND " +
        "2 * length(regexp_replace(x, '[^A-Z]', '', 'g')) <= length(regexp_replace(x, '[^A-Za-z]', '', 'g'))" +
        ")) AS kept FROM l) " +
        "SELECT doc_id, " +
        "CAST(coalesce(len(nonblank), 0) AS BIGINT) AS n_lines, " +
        "CAST(coalesce(len(nonblank) - len(prose), 0) AS BIGINT) AS n_boiler, " +
        "md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5 FROM k"),

    // lang_id over a deterministic 9-class fixture (one provably-unambiguous
    // phrase per class keyed by doc_id % 9): the REAL heuristic expression
    // runs on every row, and because each phrase is single-script or has a
    // strict stopword-vote winner, the answer is SQL-re-derivable — the
    // DuckDB oracle recomputes the language from the same fixture text via
    // unicode-range and stopword-hit-count CASE logic (it does not just
    // echo the class). Real-corpus behavior stays pinned in scalatest.
    Gate("q_lang_id", (s, d) => {
      val cls = pmod(col("doc_id"), lit(9)).cast("int")
      val fixture = when(cls === 0, lit("这是一个测试文档"))
        .when(cls === 1, lit("これはテストです"))
        .when(cls === 2, lit("이것은 테스트입니다"))
        .when(cls === 3, lit("это тестовый документ"))
        .when(cls === 4, lit("هذا مستند تجريبي"))
        .when(cls === 5, lit("यह एक परीक्षण है"))
        .when(cls === 6, lit("the quick and of to in is that"))
        .when(cls === 7, lit("el y los las una como"))
        .otherwise(lit("zzz qqq xxx"))
      Tables.table(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(fixture).as("lang_pred"))
    },
      // re-derives the language from the fixture text: unicode-range CASE for
      // the script classes, stopword-hit-count argmax (strict, mirroring the
      // heuristic's vote) for the Latin classes
      "WITH fx AS (SELECT doc_id, CASE CAST(doc_id % 9 AS INT) " +
        "WHEN 0 THEN '这是一个测试文档' WHEN 1 THEN 'これはテストです' " +
        "WHEN 2 THEN '이것은 테스트입니다' WHEN 3 THEN 'это тестовый документ' " +
        "WHEN 4 THEN 'هذا مستند تجريبي' WHEN 5 THEN 'यह एक परीक्षण है' " +
        "WHEN 6 THEN 'the quick and of to in is that' " +
        "WHEN 7 THEN 'el y los las una como' " +
        "ELSE 'zzz qqq xxx' END AS t FROM documents), " +
        "hits AS (SELECT doc_id, t, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('the','and','of','to','in','is','that','it','was','for','on','are','with','as','at','this','have','be','not','you'))) AS en_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('el','la','de','que','y','en','un','una','los','las','por','con','para','es','no','se','del','su','al','como'))) AS es_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('le','la','les','de','des','et','en','un','une','du','que','qui','dans','pour','est','pas','sur','ce','il','au'))) AS fr_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('der','die','das','und','in','den','von','zu','mit','ist','des','im','nicht','ein','eine','auf','als','auch','es','an'))) AS de_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('il','la','di','che','e','in','un','una','per','del','con','non','le','si','dei','al','da','come','anche','ma'))) AS it_h, " +
        "len(list_filter(string_split(t, ' '), w -> w IN ('o','a','de','que','e','do','da','em','um','uma','para','com','os','as','no','na','por','mais','dos','se'))) AS pt_h " +
        "FROM fx) " +
        "SELECT doc_id, CASE " +
        "WHEN unicode(t) BETWEEN 19968 AND 40959 THEN 'zh' " +
        "WHEN unicode(t) BETWEEN 12352 AND 12543 THEN 'ja' " +
        "WHEN unicode(t) BETWEEN 44032 AND 55215 THEN 'ko' " +
        "WHEN unicode(t) BETWEEN 1024 AND 1279 THEN 'ru' " +
        "WHEN unicode(t) BETWEEN 1536 AND 1791 THEN 'ar' " +
        "WHEN unicode(t) BETWEEN 2304 AND 2431 THEN 'hi' " +
        "WHEN en_h > 0 AND en_h > es_h AND en_h > fr_h AND en_h > de_h AND en_h > it_h AND en_h > pt_h THEN 'en' " +
        "WHEN es_h > 0 AND es_h > en_h AND es_h > fr_h AND es_h > de_h AND es_h > it_h AND es_h > pt_h THEN 'es' " +
        "WHEN fr_h > 0 AND fr_h > en_h AND fr_h > es_h AND fr_h > de_h AND fr_h > it_h AND fr_h > pt_h THEN 'fr' " +
        "WHEN de_h > 0 AND de_h > en_h AND de_h > es_h AND de_h > fr_h AND de_h > it_h AND de_h > pt_h THEN 'de' " +
        "WHEN it_h > 0 AND it_h > en_h AND it_h > es_h AND it_h > fr_h AND it_h > de_h AND it_h > pt_h THEN 'it' " +
        "WHEN pt_h > 0 AND pt_h > en_h AND pt_h > es_h AND pt_h > fr_h AND pt_h > de_h AND pt_h > it_h THEN 'pt' " +
        "ELSE 'und' END AS lang_pred FROM hits"),

    // multimodal metadata over the binary content column
    Gate("q_multimodal_meta", (s, d) => {
      val media = graft.pipeline.Multimodal.demoMediaTable(
        Tables.table(s, d, "documents"), "doc_id", "text")
      graft.pipeline.Multimodal.withMediaMeta(media)
        .select(col("media_id"), col("kind"), col("byte_len"), col("sha"))
    },
      "SELECT doc_id AS media_id, " +
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CAST(octet_length(encode(text)) AS INT) AS byte_len, sha256(text) AS sha FROM documents"),

    // multimodal REAL decode: text payloads wrapped in spec-valid WAV/BMP
    // containers, then a byte-level header parse via mapPartitions; every
    // compared field (dimensions, sample rate, sample/pixel counts, file
    // size) is read from the parsed header while the oracle derives the
    // expected values arithmetically from the generation rule
    Gate("q_multimodal_decode", (s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      graft.pipeline.Multimodal.decodeContainers(s, media).toDF()
        .select(col("media_id"), col("kind"), col("byte_len"), col("format"),
          col("width"), col("height"), col("sample_rate"), col("n_units"))
    },
      // differential oracle for the real container decode: expected header
      // fields derived from the generation rule (BMP: width 16, 24 bpp, rows
      // of 48 bytes, 54-byte header; WAV: canonical 44-byte header, 16-bit
      // PCM, payload padded to block align) — independent of the parser
      "WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS k, " +
        "(1 + doc_id % 2) * 2 AS ba, octet_length(encode(text)) AS len FROM documents) " +
        "SELECT media_id, " +
        "CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CAST(CASE WHEN k = 1 THEN 44 + ((len + ba - 1) // ba) * ba " +
        "ELSE 54 + 48 * greatest(1, (len + 47) // 48) END AS BIGINT) AS byte_len, " +
        "CASE WHEN k = 1 THEN 'wav' ELSE 'bmp' END AS format, " +
        "CAST(CASE WHEN k = 1 THEN 0 ELSE 16 END AS BIGINT) AS width, " +
        "CAST(CASE WHEN k = 1 THEN 0 ELSE greatest(1, (len + 47) // 48) END AS BIGINT) AS height, " +
        "CAST(CASE WHEN k = 1 THEN 8000 + (media_id % 5) * 2000 ELSE 0 END AS BIGINT) AS sample_rate, " +
        "CAST(CASE WHEN k = 1 THEN (len + ba - 1) // ba " +
        "ELSE 16 * greatest(1, (len + 47) // 48) END AS BIGINT) AS n_units FROM m"),

    // top-100 bigram collocations by integer lift (min support 5):
    // phrase mining for tokenizer-vocab / boilerplate-phrase audits —
    // staged truncating division keeps every intermediate <= 1000·N so
    // the oracle replays identical truncations, no HUGEINT promotion
    Gate("q_collocations", (s, d) =>
      TextAnalysis.collocations(Tables.table(s, d, "documents")),
      // collocation replay: same whitespace tokens, same staged truncating
      // divisions, same deterministic (lift, count, words) order
      "WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "uni AS (SELECT unnest(t) AS w FROM toks), " +
        "uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni), " +
        "big AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM toks, " +
        "unnest(range(1, length(t))) AS u(i)), " +
        "bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy " +
        "FROM big GROUP BY 1, 2 HAVING count(*) >= 5) " +
        "SELECT w1, w2, c_xy, " +
        "CAST((((1000 * n.n) // x.c) * c_xy) // y.c AS BIGINT) AS lift_permille " +
        "FROM bc JOIN uc x ON bc.w1 = x.w CROSS JOIN n JOIN uc y ON bc.w2 = y.w " +
        "ORDER BY lift_permille DESC, c_xy DESC, w1, w2 LIMIT 100"),

    // reciprocal-rank fusion of a lexical and a vector ranking (hybrid
    // search): BM25 top-20 fused with SQ8-ANN top-20 — the SQ8 path is
    // the bit-replayable ANN ranking, so BOTH input rank orders are
    // hash-exact cross-engine and the integer fusion replays verbatim
    Gate("q_rrf", (s, d) => {
      // the rank windows here run over ≤ topN post-limit rows — bounded
      // by construction, so their partition-less WindowExec WARN is noise
      // (muted at the mains; Spark 4's EliminateWindowPartitions folds
      // away any constant partition key, so partitionBy(lit(0)) can't fix it)
      val bm = TextAnalysis.bm25(Tables.table(s, d, "documents"),
        Seq("merge", "window", "table"), topN = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank"))
      val embs = Tables.table(s, d, "embeddings")
      val q = firstVector(embs)
      val sq = Similarity.sq8TopK(embs, q, 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("sq_score").desc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.pipeline.Evaluation.rrfFuse(Seq(bm, sq), "doc_id", "rank")
    },
      "WITH " + Bm25OracleCtes + ", " +
        "ra AS (SELECT doc_id, r FROM (SELECT doc_id, " +
        "CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS r FROM g) WHERE r <= 20), " +
        Sq8CodeCtes +
        "sq AS (SELECT codes.vec_id, " +
        "((list_inner_product(CAST(codes.c AS DOUBLE[]), CAST(qc.c AS DOUBLE[])) * codes.m) * qc.mq) / 16129.0 AS sqs " +
        "FROM codes CROSS JOIN qc), " +
        "rb AS (SELECT doc_id, r FROM (SELECT vec_id AS doc_id, " +
        "CAST(row_number() OVER (ORDER BY sqs DESC, vec_id ASC) AS BIGINT) AS r FROM sq) WHERE r <= 20), " +
        "u AS (SELECT doc_id, r FROM ra UNION ALL SELECT doc_id, r FROM rb) " +
        "SELECT doc_id, count(*) AS n_lists, " +
        "CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_score FROM u GROUP BY 1"),

    // Unicode NFC normalization over a fixture with decomposed accents and
    // messy whitespace (corpus is ASCII/NFC already, so the interesting
    // inputs are doc_id-derived); the oracle re-runs DuckDB's own
    // nfc_normalize — same Unicode algorithm, so md5s match exactly
    Gate("q_text_normalize", (s, d) => {
      val withMess = Tables.table(s, d, "documents")
        .withColumn("text", normalizeFixtureText)
      val norm = TextAnalysis.normalizeText(col("text"))
      withMess.select(col("doc_id"), md5(norm).as("norm_md5"),
        length(norm).cast("long").as("norm_len"))
    },
      // rebuilds the normalization fixture (chr(769) = the combining acute,
      // chr(9)/chr(10) = tab/newline), then re-normalizes with DuckDB's own
      // nfc_normalize — the md5 only matches if both engines produce the
      // identical composed, lowered, whitespace-collapsed string
      {
      val norm = "trim(regexp_replace(lower(nfc_normalize(txt)), '[ \\t\\n\\r]+', ' ', 'g'))"
      "WITH t AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 2 = 0 THEN '  CAFE' || chr(769) || chr(9) || 'Mixed Case' ELSE '' END || " +
        "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'tail  space   ' ELSE '' END AS txt " +
        "FROM documents) " +
        s"SELECT doc_id, md5($norm) AS norm_md5, " +
        s"CAST(length($norm) AS BIGINT) AS norm_len FROM t"
    }),

    // PII scrub over a deterministic fixture column (q_lang_id precedent:
    // the corpus carries no PII, so emails/phones/IPs are appended as pure
    // functions of doc_id); the REAL regex operators count + redact, and
    // the oracle re-derives counts AND the redacted-text md5 under RE2 —
    // the pattern subset is chosen for Java/RE2 semantic parity
    Gate("q_pii_redact", (s, d) => {
      val withPii = Tables.table(s, d, "documents")
        .withColumn("text", piiFixtureText)
      graft.pipeline.Pii.scrub(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          md5(col("redacted")).as("redacted_md5"))
    },
      // rebuilds the PII fixture text, then re-derives counts and the
      // redacted md5 with RE2 regexes (same restricted pattern subset —
      // identical semantics to the Java engine on this grammar)
      {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      "WITH t AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END AS txt " +
        "FROM documents) " +
        "SELECT doc_id, " +
        s"CAST(len(regexp_extract_all(txt, '$email')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(txt, '$phone')) AS BIGINT) AS n_phones, " +
        s"CAST(len(regexp_extract_all(txt, '$ip')) AS BIGINT) AS n_ips, " +
        s"md5(regexp_replace(regexp_replace(regexp_replace(txt, '$email', '<EMAIL>', 'g'), " +
        s"'$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g')) AS redacted_md5 " +
        "FROM t"
    })
  )
}
