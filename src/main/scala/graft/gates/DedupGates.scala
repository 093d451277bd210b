package graft
package gates

import graft.pipeline.{Curation, Dedup, Provenance}
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Near-duplicate and exact dedup gates over documents, text spans, URLs
  * and media, with their cluster and keep-list variants. */
object DedupGates {

  /** Unrolled k-core replay: the thinned purchase graph (quantity > 45
    * lines only — the full graph is too dense to peel), `iters` rounds of
    * "keep nodes with ≥ k alive-subgraph degree" (each round = two
    * alive-set joins + one degree count, exactly [[graft.pipeline.Graph
    * .kcore]]'s semi-join shape), then the final-survivor in-core degree
    * report with zero-neighbor survivors reading 0. */
  /** The q_dedup_media oracle: re-derives BOTH perceptual hashes from
    * first principles — payload bytes addressed through hex(encode(text))
    * plus the container generation rule (BMP: 16-wide rows of 48 bytes,
    * zero-padded, pixel data at offset 54 ⇒ payload index 0; WAV: payload
    * zero-padded to block align (1 + id%2)·2) — then replays the 4×16-bit
    * band join and the popcount-≤3 verify. byte(p) = hex pair at 2p when
    * p < len else 0 (the writers zero-pad), so no binary column is needed
    * DuckDB-side; a wrong offset, sampling grid, or packing order in the
    * JVM hasher mismatches. */
  /** The shared media perceptual-hash CTE chain (no WITH prefix): raw →
    * dHash/energy-hash re-derivation → `maxHamming`-banded candidate
    * join → `mpairs` (verified pairs). Radius picks the band layout
    * exactly as [[graft.pipeline.Dedup.hash64Pairs]] does: ≤ 3 → 4
    * 16-bit chunks, 4–7 → 8 8-bit chunks. */
  private def mediaPairCtes(maxHamming: Int): String = {
    // byte p (0-based) of the payload, zero past the unpadded length
    def byt(p: String) =
      s"(CASE WHEN ($p) < len THEN CAST('0x' || substr(hx, 2*($p)+1, 2) AS BIGINT) ELSE 0 END)"
    // BMP gray sample g of 72 (row i = g//9 at pixel row (i·(h−1))//7,
    // col j = g%9 at pixel col (15j)//8; h = rows of 48 payload bytes)
    val pix = "(((g // 9) * (greatest(1, (len + 47) // 48) - 1)) // 7) * 48 + " +
      "((15 * (g % 9)) // 8) * 3"
    val gray = s"(${byt(pix)} + ${byt(s"($pix) + 1")} + ${byt(s"($pix) + 2")}) // 3"
    val (bandVals, bandPos) =
      if (maxHamming <= 3)
        ("[h0 & 65535, h0 >> 16, h1 & 65535, h1 >> 16]", "[0, 1, 2, 3]")
      else
        ("[h0 & 255, (h0 >> 8) & 255, (h0 >> 16) & 255, (h0 >> 24) & 255, " +
          "h1 & 255, (h1 >> 8) & 255, (h1 >> 16) & 255, (h1 >> 24) & 255]",
          "[0, 1, 2, 3, 4, 5, 6, 7]")
    "raw AS (SELECT doc_id AS media_id, doc_id % 3 AS k, " +
      "(1 + doc_id % 2) * 2 AS ba, hex(encode(text)) AS hx, " +
      "octet_length(encode(text)) AS len FROM documents), " +
      s"bmpg AS (SELECT media_id, 'bmp' AS format, " +
      s"list_transform(range(72), g -> $gray) AS grys FROM raw WHERE k <> 1), " +
      "bmph AS (SELECT media_id, format, list_transform(range(64), b -> " +
      "CASE WHEN grys[(b // 8) * 9 + (b % 8) + 1] > grys[(b // 8) * 9 + (b % 8) + 2] " +
      "THEN 1 ELSE 0 END) AS bits FROM bmpg), " +
      "wavr AS (SELECT media_id, hx, len, ((len + ba - 1) // ba) * ba AS dl " +
      "FROM raw WHERE k = 1), " +
      "wavg AS (SELECT media_id, 'wav' AS format, list_transform(range(65), f -> " +
      "coalesce(list_sum(list_transform(range((f * dl) // 65, ((f + 1) * dl) // 65), " +
      s"p -> ${byt("p")})), 0)) AS en FROM wavr), " +
      "wavh AS (SELECT media_id, format, list_transform(range(64), b -> " +
      "CASE WHEN en[b + 1] > en[b + 2] THEN 1 ELSE 0 END) AS bits FROM wavg), " +
      "hsh AS (SELECT * FROM bmph UNION ALL SELECT * FROM wavh), " +
      "packed AS (SELECT media_id, format, " +
      "CAST(list_sum(list_transform(range(32), b -> bits[b + 1] * (CAST(1 AS BIGINT) << b))) AS BIGINT) AS h0, " +
      "CAST(list_sum(list_transform(range(32), b -> bits[b + 33] * (CAST(1 AS BIGINT) << b))) AS BIGINT) AS h1 " +
      "FROM hsh), " +
      "bands AS (SELECT media_id, format, h0, h1, " +
      s"unnest($bandVals) AS bv, " +
      s"unnest($bandPos) AS bp FROM packed), " +
      "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, " +
      "a.format AS format, a.h0 AS a0, a.h1 AS a1, b.h0 AS b0, b.h1 AS b1 " +
      "FROM bands a JOIN bands b ON a.format = b.format AND a.bp = b.bp " +
      "AND a.bv = b.bv AND a.media_id < b.media_id), " +
      "mpairs AS (SELECT id_a, id_b, format, " +
      "CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS BIGINT) AS hamming " +
      s"FROM cand WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= $maxHamming)"
  }

  private def mediaDedupOracleSql: String =
    s"WITH ${mediaPairCtes(3)} SELECT id_a, id_b, format, hamming FROM mpairs"

  /** The q_dedup_media_h7 oracle: same re-derivation, 8-band pigeonhole
    * at the recompressed-media radius (hamming ≤ 7). */
  private def mediaDedupWideOracleSql: String =
    s"WITH ${mediaPairCtes(7)} SELECT id_a, id_b, format, hamming FROM mpairs"

  /** The q_dedup_media_incr oracle: the same hash re-derivation and
    * 4-band join, restricted to the BIPARTITE batch (media_id % 10 = 0)
    * × corpus (% 10 ≠ 0) cut — exactly what the index probe computes. */
  private def mediaIncrOracleSql: String =
    s"WITH ${mediaPairCtes(3)}, " +
      "icand AS (SELECT DISTINCT a.media_id AS new_id, b.media_id AS corpus_id, " +
      "a.h0 AS a0, a.h1 AS a1, b.h0 AS b0, b.h1 AS b1 " +
      "FROM bands a JOIN bands b ON a.format = b.format AND a.bp = b.bp " +
      "AND a.bv = b.bv AND a.media_id % 10 = 0 AND b.media_id % 10 <> 0) " +
      "SELECT new_id, corpus_id, " +
      "CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS BIGINT) AS hamming " +
      "FROM icand WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= 3"

  /** The local-min-seeded transitive closure over the pair table
    * `pairs(id_a, id_b)`: `edges` in both orientations, `roots` the nodes
    * below all their neighbors, and `reach(id, r)` every node reachable
    * from root r. Each component's min id is a root, so min(r) per id is
    * its component label. (No WITH prefix, no trailing comma.) */
  private def closureCtes(pairs: String): String =
    s"edges AS (SELECT id_a AS src, id_b AS dst FROM $pairs " +
      s"UNION ALL SELECT id_b, id_a FROM $pairs), " +
      "roots AS (SELECT src AS id FROM edges GROUP BY src HAVING src < min(dst)), " +
      "reach(id, r) AS (SELECT id, id FROM roots " +
      "UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)"

  /** The keeper replay over `j(id, cluster, sc)`: per cluster the argmax
    * by (sc DESC NULLS LAST, id ASC), then each member with its keeper. */
  private val KeeperSelect: String =
    "k AS (SELECT cluster, id AS keeper FROM (SELECT cluster, id, " +
      "row_number() OVER (PARTITION BY cluster " +
      "ORDER BY sc DESC NULLS LAST, id ASC) AS rn FROM j) WHERE rn = 1) " +
      "SELECT j.id, j.cluster, k.keeper, " +
      "CAST(CASE WHEN j.id = k.keeper THEN 1 ELSE 0 END AS BIGINT) AS is_keeper " +
      "FROM j JOIN k USING (cluster)"

  /** Per-doc distinct 13-word grams `g(doc_id, gram)` over the shared
    * [a-z]+ token stream; docs under 13 tokens contribute one whole-text
    * gram (the operator's short-text convention). Ends with ", ". */
  private val WordGramCtes: String =
    "WITH toks AS (SELECT doc_id, list_filter(string_split_regex(" +
      "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS t FROM documents), " +
      "g AS (SELECT doc_id, unnest(list_distinct(" +
      "CASE WHEN len(t) = 0 THEN [] " +
      "WHEN len(t) < 13 THEN [array_to_string(t, ' ')] " +
      "ELSE list_transform(range(1, len(t) - 11), i -> array_to_string(t[i:i+12], ' ')) " +
      "END)) AS gram FROM toks), "

  /** The q_dedup_media_clusters oracle: the pair CTEs, the local-min-
    * seeded transitive-closure labeling (the q_dedup_clusters pattern),
    * the keeper window by (container bytes DESC, id ASC), and the
    * singleton restore — container bytes derived ARITHMETICALLY from the
    * generation rule (BMP: 54 + 48·max(1, ceil(len/48)); WAV: 44 +
    * ceil(len/ba)·ba), never echoed from the writer. */
  private def mediaClustersOracleSql: String =
    s"WITH RECURSIVE ${mediaPairCtes(3)}, " +
      "blen AS (SELECT media_id, CAST(CASE WHEN k = 1 " +
      "THEN 44 + ((len + ba - 1) // ba) * ba " +
      "ELSE 54 + 48 * greatest(1, (len + 47) // 48) END AS BIGINT) AS sc FROM raw), " +
      closureCtes("mpairs") + ", " +
      "lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id), " +
      "j AS (SELECT b.media_id AS id, coalesce(lab.cluster, b.media_id) AS cluster, " +
      "b.sc FROM blen b LEFT JOIN lab ON b.media_id = lab.id), " +
      KeeperSelect

  /** Batch × corpus Jaccard ≥ 0.8 over the gram sets `ga(new_id, gram)`
    * and `gb(doc_id, gram)`: the (new_id, corpus_id) pairs. */
  private val CrossJaccardSelect: String =
    "sa AS (SELECT new_id, count(*) AS sz FROM ga GROUP BY new_id), " +
      "sb AS (SELECT doc_id, count(*) AS sz FROM gb GROUP BY doc_id), " +
      "co AS (SELECT a.new_id, b.doc_id AS corpus_id, count(*) AS inter " +
      "FROM ga a JOIN gb b USING (gram) GROUP BY 1, 2) " +
      "SELECT co.new_id AS new_id, co.corpus_id AS corpus_id FROM co " +
      "JOIN sa ON sa.new_id = co.new_id JOIN sb ON sb.doc_id = co.corpus_id " +
      "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8"

  /** Brute-force cross-set Jaccard between the rebuilt batch and the
    * corpus — shared verbatim by q_dedup_incremental and its
    * Bloom-screened twin (the screen must be result-invariant). */
  private val IncrementalOracleSql: String =
    "WITH bt AS (SELECT doc_id + 1000000 AS new_id, text FROM documents WHERE doc_id % 10 = 0), " +
      "ga AS (SELECT new_id, unnest(list_distinct(list_transform(" +
      "range(1, length(text)-3), i -> substr(text, i, 5)))) AS gram FROM bt), " +
      "gb AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, length(text)-3), i -> substr(text, i, 5)))) AS gram FROM documents), " +
      CrossJaccardSelect

  /** Shared CTE chain for the span-dedup oracles: word-aligned gram
    * occurrences (1-based i → 0-based pos), ≥2-doc digests, and the
    * gaps-and-islands merge to disjoint per-doc spans — identical between
    * q_dedup_spans (aggregates it) and q_dedup_clean (splices with it). */
  private val SharedSpanCtes: String =
    "occ AS (SELECT doc_id, text, unnest(range(1, len(text) - 38)) AS i " +
      "FROM documents WHERE len(text) >= 40), " +
      "pg AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, " +
      "md5(substr(text, CAST(i AS INT), 40)) AS g FROM occ " +
      "WHERE i = 1 OR substr(text, CAST(i AS INT) - 1, 1) = ' '), " +
      "nd AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS ndocs " +
      "FROM pg GROUP BY g) WHERE ndocs >= 2), " +
      "sh AS (SELECT doc_id, pos FROM pg JOIN nd USING (g)), " +
      "isl AS (SELECT doc_id, pos, CASE WHEN pos > coalesce(max(pos + 40) OVER " +
      "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) " +
      "THEN 1 ELSE 0 END AS ni FROM sh), " +
      "isl2 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM isl), " +
      "spans AS (SELECT doc_id, island, min(pos) AS s, max(pos + 40) AS e " +
      "FROM isl2 GROUP BY doc_id, island)"

  /** Corpus text wrapped in cross-doc boilerplate lines — the fixture half
    * of q_dedup_lines (the oracle rebuilds the same text): one of 5 shared
    * header lines (kept only in its minimal doc), the original single-line
    * body (deduped across exact-duplicate docs), and a footer line shared
    * by all even docs (kept only in doc 0). */
  private def lineDedupFixtureText: Column =
    concat(
      lit("shared header line for corpus group "),
      pmod(col("doc_id"), lit(5)).cast("string"),
      lit("\n"), col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("\nshared even-documents footer boilerplate line")).otherwise(lit("")))

  /** Corpus text rebuilt as blank-line-separated paragraphs — the fixture
    * half of q_dedup_paragraphs (the oracle rebuilds the same text): a
    * shared intro paragraph per doc_id%6 group (kept only in its minimal
    * doc), the original body, and a closing paragraph shared by all even
    * docs (kept only in doc 0). */
  private def paragraphFixtureText: Column =
    concat(
      lit("shared introductory paragraph for corpus group "),
      pmod(col("doc_id"), lit(6)).cast("string"),
      lit("\n\n"), col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("\n\nshared closing paragraph across all even documents"))
        .otherwise(lit("")))

  // sentence-span fixture: cross-doc shared 3-sentence span (%3) and a
  // within-doc doubled 3-sentence span (%5); the base corpus has no
  // sentence punctuation, so each base doc is one piece
  private final val sent3Tail =
    ". Alpha beta gamma one. Delta epsilon two. Zeta eta theta three."

  private final val sent5Tail =
    " Repeat me once. Repeat me twice. Repeat me thrice." +
      " Repeat me once. Repeat me twice. Repeat me thrice."

  /**
   * Brute-force distinct-char-5-gram Jaccard pairs at threshold 0.8,
   * expressed as DuckDB CTEs (inverted shingle index + co-occurrence
   * counts — ~40× faster than per-pair list_intersect). Valid as the
   * oracle for the MinHash-LSH pairs because the seeded LSH is
   * deterministic and its delivered recall at the gate sf is 1.0 (64
   * hashes / 16 bands: detection prob ≥ 1-(1-0.8^4)^16 ≈ 0.9998 at the
   * threshold, higher above it; pinned by PipelineSpec's brute-force
   * recall tests), so LSH pairs == brute-force pairs. Gram semantics
   * mirror TextCore.shingleHashes: distinct 5-char substrings (gate
   * corpus is all-ASCII with min length 48, so no short-text edge cases).
   */
  private val JaccardPairsCtes =
    "g AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, length(text)-3), i -> substr(text, i, 5)))) AS gram FROM documents), " +
      "sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id), " +
      "co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
      "FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "jpairs AS (SELECT id_a, id_b FROM co " +
      "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
      "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8)"

  /**
   * Bit-exact DuckDB reproduction of TextCore.simhash64: polynomial rolling
   * hash (31·h + char, 64-bit wraparound via HUGEINT mod 2^64) per distinct
   * 5-gram, SplitMix64 finalizer (wrap-multiplies decomposed into 32-bit
   * hi/lo halves so the 128-bit intermediate never overflows HUGEINT),
   * then per-bit ±1 majority vote. Verified stage-by-stage against the JVM
   * implementation. Pairs = hamming(simhash_a, simhash_b) ≤ 3, which is
   * exactly what the chunked-pigeonhole LSH emits (sound AND complete for
   * maxHamming ≤ 3, and no bucket exceeds the cap at gate sf).
   */
  private val SimhashPairsSql: String = {
    val B = "18446744073709551616" // 2^64
    "WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
      "range(1, length(text)-3), i -> substr(text, i, 5)))) AS gram FROM documents), " +
      "ph AS (SELECT doc_id, " +
      s"(((((((((1125899906842597::HUGEINT * 31 + unicode(substr(gram,1,1))) % $B) * 31 " +
      s"+ unicode(substr(gram,2,1))) % $B) * 31 + unicode(substr(gram,3,1))) % $B) * 31 " +
      s"+ unicode(substr(gram,4,1))) % $B) * 31 + unicode(substr(gram,5,1))) % $B AS p FROM g), " +
      "mx AS (SELECT doc_id, " +
      s"(p + 11400714819323198485::HUGEINT) % $B AS z1, " +
      "xor(z1, z1 >> 30) AS z2, " +
      s"((z2 * 484763065) % $B + ((z2 * 3210233709) % 4294967296) * 4294967296) % $B AS z3, " +
      "xor(z3, z3 >> 27) AS z4, " +
      s"((z4 * 321982955) % $B + ((z4 * 2496678331) % 4294967296) * 4294967296) % $B AS z5, " +
      "xor(z5, z5 >> 31) AS h FROM ph), " +
      "bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS cnt " +
      "FROM mx CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bl GROUP BY doc_id, b), " +
      "sh AS (SELECT doc_id, sum(CASE WHEN cnt > 0 THEN (1::HUGEINT << b) " +
      "ELSE 0::HUGEINT END)::UBIGINT AS s FROM bits GROUP BY doc_id) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.s, b.s)) <= 3"
  }

  /** min-label fixpoint over the same brute-force pair set: transitive
    * closure by recursive CTE, then the minimum reachable id per node —
    * identical semantics to Dedup.clusters' converged labels. The
    * closure is seeded ONLY from LOCAL-MINIMUM nodes (id < every
    * neighbor): each component's global min is a local min, so every
    * node still receives its component min, but the reach table holds
    * Σ_localmin |component| rows instead of Σ |component|² — on the
    * clique-heavy replicated corpora (sf1 replay) that is ONE seed per
    * clique and a ~linear closure (the brute form spilled ~76 GB).
    * Shared verbatim by q_dedup_clusters, its incremental twin
    * q_dedup_clusters_incr (whose contract is equality with the full
    * recompute) and q_dedup_labels (output-identical to
    * clusters(minhashLshPairs(...)) by construction). */
  private val DedupClustersOracleSql: String =
    s"WITH RECURSIVE $JaccardPairsCtes, " +
      closureCtes("jpairs") + " " +
      "SELECT id, min(r) AS cluster FROM reach GROUP BY id"

  /** the keep-list replay: same closure + keeper as q_dedup_canonical,
    * then the singleton restore — every document outside the pair graph
    * keeps itself (its id can never equal a component label, which is
    * always the min MEMBER id of a ≥2-doc component).
    * Shared verbatim by q_dedup_keeplist and q_dedup_keeplist_incr. */
  private val DedupKeeplistOracleSql: String =
    s"WITH RECURSIVE $JaccardPairsCtes, " +
      closureCtes("jpairs") + ", " +
      "lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id), " +
      "j AS (SELECT d.doc_id AS id, coalesce(lab.cluster, d.doc_id) AS cluster, " +
      "CAST(d.n_chars AS BIGINT) AS sc FROM documents d " +
      "LEFT JOIN lab ON d.doc_id = lab.id), " +
      KeeperSelect

  val all: Seq[Gate] = Seq(
    Gate("q_dedup_exact", (s, d) =>
      Dedup.exact(Tables.table(s, d, "documents"), "doc_id", Seq("text")),
      "SELECT md5(text) AS dup_hash, count(*) AS n_dups, min(doc_id) AS keep_id " +
        "FROM documents GROUP BY text"),

    // cross-source exact-dup overlap matrix over a doc_id-derived
    // collision fixture (the corpus has no natural exact dups at gate
    // SF): every 5th doc's text collapses to one of 8 keys spanning
    // sources, so the matrix is non-trivial and fully re-derivable
    Gate("q_source_overlap", (s, d) =>
      Dedup.sourceOverlap(Tables.table(s, d, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("shared dup "), pmod(col("doc_id"), lit(40)).cast("string")))
        .otherwise(col("text")))),
      // same collision fixture, then the matrix from first principles:
      // DISTINCT (digest, source) pairs self-joined on digest with an
      // ordered source pair
      "WITH fx AS (SELECT source, CASE WHEN doc_id % 5 = 0 " +
        "THEN 'shared dup ' || CAST(doc_id % 40 AS VARCHAR) ELSE text END AS text " +
        "FROM documents), " +
        "s AS (SELECT DISTINCT md5(text) AS h, source FROM fx WHERE text IS NOT NULL) " +
        "SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_texts " +
        "FROM s a JOIN s b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2"),

    // MinHash LSH near-dup pairs; brute-force 5-gram-Jaccard DuckDB oracle
    // (valid: deterministic seeded LSH with recall 1.0 at gate sf)
    Gate("q_dedup_minhash", (s, d) =>
      Dedup.minhashLshPairs(Tables.table(s, d, "documents"), "doc_id", "text",
        threshold = 0.8).select(col("id_a"), col("id_b")),
      s"WITH $JaccardPairsCtes SELECT id_a, id_b FROM jpairs"),

    // the published near-dup configuration: MinHash-LSH over 13-WORD
    // shingles at Jaccard 0.8 (Gopher/MassiveText, SlimPajama) — word
    // shingles catch token-level rewrites that char shingles dilute;
    // same banded pipeline, exact word-gram verify decides, so the
    // brute-force word-Jaccard oracle is exact (24 pairs at sf0.01)
    Gate("q_dedup_minhash_words", (s, d) =>
      Dedup.minhashLshPairsWords(Tables.table(s, d, "documents"),
        "doc_id", "text", threshold = 0.8).select(col("id_a"), col("id_b")),
      // brute-force 13-WORD-gram Jaccard over the shared [a-z]+ token
      // stream; short docs (< 13 tokens) contribute one whole-doc gram —
      // the operator's short-text convention
      WordGramCtes +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1), " +
        "co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b FROM co " +
        "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8"),

    // EXACT n-gram Jaccard pairs via prefix filtering (AllPairs/PPJoin) —
    // deterministic by construction, so the brute-force Jaccard oracle is
    // exact here (not a recall argument like the minhash row)
    Gate("q_dedup_ngram", (s, d) => {
      // scattered input: one dominant shingle pass — see
      // Tables.tableScattered
      val docs = Tables.tableScattered(s, d, "documents")
      // fused-bucket variant in auto mode: a 256-doc sample (one tiny
      // limit-scan, no full count) detects the corpus's small gram
      // vocabulary and picks the dense-bitset payload path; differential-
      // tested equal to the flat pipeline across modes
      Dedup.ngramJaccardPairsFused(docs, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"))
    },
      // exact prefix-filtered Jaccard join: same pair set, exact by design
      s"WITH $JaccardPairsCtes SELECT id_a, id_b FROM jpairs"),

    // SimHash near-dup pairs; bit-exact simhash64 reproduction in DuckDB
    // as the oracle (pigeonhole LSH is complete for hamming <= 3)
    Gate("q_dedup_simhash", (s, d) =>
      Dedup.simhashPairs(Tables.table(s, d, "documents"), "doc_id", "text")
        .select(col("id_a"), col("id_b")),
      SimhashPairsSql),

    // Embedding near-dup pairs: banded sign-LSH (n-aware auto-tune via the
    // JVM-cached corpus row count — no per-invocation count job) + exact
    // cosine verify; brute-force DuckDB oracle
    Gate("q_dedup_cosine", (s, d) => {
      val embs = Tables.table(s, d, "embeddings")
      Dedup.cosineNearDupPairs(embs, "vec_id", "embedding",
          threshold = 0.5, targetRecall = 0.999,
          corpusSizeHint = Tables.rowCount(s, d, "embeddings"))
        .select(col("id_a"), col("id_b"))
    },
      // brute-force oracle: at sf0.01 the single true pair sits at cosine
      // 0.5128 (runner-up 0.4928), far from the threshold, and the seeded LSH
      // finds it deterministically (pinned by PipelineSpec); both engines run
      // the same sequential double-precision cosine loop
      "WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c " +
        "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b FROM p WHERE c >= 0.5"),

    // multimodal near-dup dedup: perceptual fingerprints over the REAL
    // container bytes — dHash on the BMP pixel grid, frame-energy hash on
    // the WAV payload, both all-integer — paired through the shared
    // 4×16-bit pigeonhole (hamming ≤ 3, within format). The oracle
    // re-derives both hashes from first principles (payload bytes via
    // hex arithmetic + the published generation rule), so a wrong byte
    // offset, endianness, sampling grid, or packing order mismatches
    Gate("q_dedup_media", (s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      val hashes = graft.pipeline.Multimodal.perceptualHashes(s, media).toDF()
      Dedup.hash64Pairs(hashes, "media_id", "format")
    },
      mediaDedupOracleSql),

    // the wide-radius pair variant: 8×8-bit pigeonhole banding at
    // hamming ≤ 7 — recompressed perceptual near-dups commonly land at
    // 4-8 bits, past the 4×16-bit bound; the oracle replays the 8-band
    // join and the ≤7 popcount verify
    Gate("q_dedup_media_h7", (s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      val hashes = graft.pipeline.Multimodal.perceptualHashes(s, media).toDF()
      Dedup.hash64Pairs(hashes, "media_id", "format", maxHamming = 7)
    },
      mediaDedupWideOracleSql),

    // incremental media dedup: the corpus fingerprints persist as a
    // chunk-value-sorted index (fingerprinted ONCE — the lake pattern),
    // and an arriving batch probes 16-bit band keys instead of
    // re-reading media; exact popcount verify. Batch = media_id % 10 = 0
    // (ids naturally disjoint from the corpus slice)
    Gate("q_dedup_media_incr", (s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      // materialize the fingerprints ONCE (the hash64KeepList
      // precedent): the corpus/batch halves are filters over an OPAQUE
      // mapPartitions decode+hash, so without this the index write and
      // the probe would each re-decode every container's bytes
      val hashes = graft.pipeline.Checkpoints.materialize(
        graft.pipeline.Multimodal.perceptualHashes(s, media).toDF(), None)
      val corpus = hashes.filter(pmod(col("media_id"), lit(10)) =!= 0)
      val batch = hashes.filter(pmod(col("media_id"), lit(10)) === 0)
      // per-invocation unique path: a fixed hashCode-keyed name let
      // concurrent runs over the same sfDir (bench + verify, parallel
      // suites) clobber the index between write and probe
      val path = s"/tmp/graft_h64_index_${java.util.UUID.randomUUID().toString.take(12)}"
      Dedup.writeHash64Index(corpus, path, "media_id", "format")
      Dedup.hash64AgainstIndex(s, path, batch, "media_id", "format")
    },
      mediaIncrOracleSql),

    // the DEFAULT media-dedup output — LINEAR keep-list instead of the
    // replication-quadratic pair table (sf10 measured 16.9M pairs for
    // ~0.5M items): perceptual pairs → connected components → keeper by
    // (container bytes desc, id asc), singletons keeping themselves; one
    // row per media item at any replication factor. is_keeper = 0 is the
    // drop list — the reference's own keep-one-copy ingest semantics
    Gate("q_dedup_media_clusters", (s, d) => {
      val media = graft.pipeline.Multimodal.demoContainerTable(s,
        Tables.table(s, d, "documents"), "doc_id", "text")
      graft.pipeline.Multimodal.dedupMediaClusters(s, media)
    },
      mediaClustersOracleSql),

    // dedup clustering: connected components over near-dup pairs →
    // (doc_id, cluster representative); recursive-CTE DuckDB oracle
    // the LINEAR clustering path: connected-component labels
    // WITHOUT the quadratic pair enumeration (chain round + broadcast-
    // label cross-component residue) — provably identical to
    // q_dedup_clusters, so it shares that recursive-CTE oracle verbatim;
    // this gate pins the equality against DuckDB, not just scalatest
    Gate("q_dedup_labels", (s, d) =>
      Dedup.minhashLshLabels(Tables.table(s, d, "documents"),
        "doc_id", "text", threshold = 0.8),
      DedupClustersOracleSql),

    Gate("q_dedup_clusters", (s, d) => {
      val pairs = Dedup.minhashLshPairs(Tables.table(s, d, "documents"),
        "doc_id", "text", threshold = 0.8)
      Dedup.clusters(pairs.select(col("id_a"), col("id_b")))
    },
      DedupClustersOracleSql),

    // canonical-representative selection: the step between pair discovery
    // and corpus shrinkage — every near-dup cluster names one KEEPER by
    // (n_chars desc, id asc), the longest-member heuristic; is_keeper=0
    // rows are the drop list. Pure function of (labels, scores), total
    // order, so the selection replays cross-engine
    Gate("q_dedup_canonical", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      val labels = Dedup.clusters(pairs.select(col("id_a"), col("id_b")))
      Dedup.clusterCanonical(labels, docs, "doc_id", "n_chars")
    },
      // same local-min-seeded transitive-closure labeling, then the keeper
      // window replay: argmax by (n_chars DESC NULLS LAST, id ASC) per cluster
      s"WITH RECURSIVE $JaccardPairsCtes, " +
        closureCtes("jpairs") + ", " +
        "lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id), " +
        "j AS (SELECT lab.id, lab.cluster, CAST(d.n_chars AS BIGINT) AS sc " +
        "FROM lab JOIN documents d ON lab.id = d.doc_id), " +
        KeeperSelect),

    // the LINEAR text-dedup default: near-dup pairs → components →
    // keeper → singleton restore, ONE row per corpus document
    // (the q_dedup_media_clusters semantics on the text family);
    // is_keeper = 0 is the exact drop list at any replication factor
    // rides the exact-duplicate collapse path (textKeepList): verbatim
    // copies never enter the LSH pipeline — output identical to the
    // uncollapsed pair graph (differential-tested + this oracle)
    Gate("q_dedup_keeplist", (s, d) =>
      Dedup.textKeepList(Tables.table(s, d, "documents"),
        "doc_id", "text", "n_chars"),
      DedupKeeplistOracleSql),

    // incremental keep-list refresh at the LAKE cadence (the realistic
    // shape): the corpus-at-rest (doc_id % 100 ≠ 0) carries a
    // persisted split minhash index + linear component labels; the
    // arriving 1% batch pays only its OWN signatures — it probes the
    // index for batch-vs-corpus CONNECTIVE edges (one verified edge per
    // (batch doc, corpus component) + exact residue round, never
    // batch × replication pair rows), labels itself internally (star
    // edges, never the batch's quadratic pair table), and folds both in
    // via the affected-cluster re-solve. EXACT equality with the
    // from-scratch keep-list over the union, so this gate shares
    // q_dedup_keeplist's oracle verbatim. The pair-parity-split WORST
    // case (delta touches every component, full re-solve) stays pinned
    // by q_dedup_clusters_incr below
    Gate("q_dedup_keeplist_incr", (s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val base = docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
      // per-invocation unique path (the q_dedup_media_incr precedent)
      val path = s"/tmp/graft_mh_index_${java.util.UUID.randomUUID().toString.take(12)}"
      // the batch's INTERNAL labeling touches neither the index nor the
      // corpus labels — overlap its (many small) materialization jobs
      // with the index write + corpus chain on a second driver thread
      // (actions are only sequential because the driver calls them
      // sequentially); results are unchanged, the two chains just
      // back-fill each other's idle cores. A pooled thread keeps the Spark
      // local properties of whichever thread created it, so the caller's
      // job group, description and interrupt flag are set on it for the
      // chain (and cleared after) — a cancelJobGroup then reaches its jobs
      val sc = s.sparkContext
      val jobProps = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel").map(p => p -> sc.getLocalProperty(p))
      val internalF = scala.concurrent.Future {
        jobProps.foreach { case (p, v) => sc.setLocalProperty(p, v) }
        try Dedup.minhashLshLabels(batch, "doc_id", "text")
          .select(col("id").as("id_a"), col("cluster").as("id_b"))
        finally jobProps.foreach { case (p, _) => sc.setLocalProperty(p, null) }
      }(scala.concurrent.ExecutionContext.global)
      Dedup.writeMinhashIndex(base, path)
      // labels REGROUP the just-written index instead of re-running
      // the full signature pass over the corpus text — the lake cadence's
      // whole point (minhashLshLabelsFromIndex is differential-tested
      // equal to minhashLshLabels at the index's parameters)
      val labels = graft.pipeline.Checkpoints.materialize(
        Dedup.minhashLshLabelsFromIndex(s, path, base), None)
      val vsCorpus = Dedup.dedupAgainstIndexConnective(s, path, batch, base,
          labels)
        .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      val internal = scala.concurrent.Await.result(internalF,
        scala.concurrent.duration.Duration.Inf)
      Dedup.clusterKeepListIncremental(labels, vsCorpus.unionByName(internal),
        docs, "doc_id", "n_chars")
    },
      DedupKeeplistOracleSql),

    // incremental cluster maintenance: label the base half of the pair
    // stream, then fold the delta half in via clustersIncremental — the
    // contract is EXACT equality with the full recompute, so this gate
    // shares q_dedup_clusters' oracle verbatim (parity split keeps both
    // the untouched-keep and re-solve paths populated)
    Gate("q_dedup_clusters_incr", (s, d) => {
      // materialize the pair stream ONCE: the base and delta halves
      // are filters over the same lazy LSH pipeline, and clusters() +
      // clustersIncremental() would otherwise each re-run the full
      // signature → bucket → verify chain (pairs are id-pair rows, tiny)
      val pairs = graft.pipeline.Checkpoints.materialize(
        Dedup.minhashLshPairs(Tables.table(s, d, "documents"),
            "doc_id", "text", threshold = 0.8)
          .select(col("id_a"), col("id_b")), None)
      val base = pairs.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 0)
      val delta = pairs.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 1)
      Dedup.clustersIncremental(Dedup.clusters(base), delta)
    },
      DedupClustersOracleSql),

    // containment (partial-copy) pairs at 800‰ of the SMALLER gram set —
    // the asymmetric near-dup family member: catches quotes/wrapped
    // reposts that Jaccard misses; exact by construction (prefix filter +
    // sorted-merge intersect), integer permille replayed by the oracle.
    // shingle=9 (not the default 5): the gate corpus's vocabulary is
    // template-degenerate (only ~2k distinct 5-grams at sf0.01, ~3k at
    // sf1), which defeats the rare-gram prefix filter and drove the
    // gate to ~all-pairs candidates (878M verified for 252k true at sf1,
    // ~51% of the whole sf1 bench). 9-grams grow the vocabulary ~10×
    // past the corpus size so prefixes prune as designed — per the
    // operator's own scaladoc guidance — while the true pair set is
    // UNCHANGED (near-dups share long spans: 25 pairs at sf0.01 for any
    // shingle in 5..12, measured)
    Gate("q_dedup_containment", (s, d) =>
      Dedup.containmentPairs(Tables.tableScattered(s, d, "documents"),
        "doc_id", "text", thresholdPermille = 800, shingle = 9),
      // containment replay: the same brute-force gram co-occurrence lattice
      // as the Jaccard oracles, thresholded on 1000·inter ≥ t·min(sz) and
      // emitting the integer permille; short-text convention mirrored from
      // TextCore.shingleHashes: texts of
      // length 1..8 contribute ONE whole-doc gram (length 0/NULL → none)
      "WITH g AS (SELECT doc_id, unnest(list_distinct(" +
        "CASE WHEN length(text) >= 1 AND length(text) < 9 THEN [text] " +
        "WHEN length(text) >= 9 THEN list_transform(" +
        "range(1, length(text)-7), i -> substr(text, i, 9)) ELSE NULL END)) AS gram FROM documents), " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id), " +
        "co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST((1000 * inter) // least(sa.sz, sb.sz) AS BIGINT) AS containment_permille " +
        "FROM co JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b " +
        "WHERE 1000 * inter >= 800 * least(sa.sz, sb.sz)"),

    // benchmark decontamination (13-word-gram collision rule): the eval
    // set is the deterministic doc_id % 101 == 0 slice, the corpus the
    // rest — replicas/near-dups of eval docs land in the corpus, so both
    // flag branches populate at every scale; n_shared_grams counts
    // DISTINCT grams hit so the report is order-free
    Gate("q_decontaminate", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(101)) === 0)
      val train = docs.filter(pmod(col("doc_id"), lit(101)) =!= 0)
      Curation.decontaminate(train, "doc_id", "text", bench)
    },
      // decontamination replay: same shared tokenizer + 13-word grams as
      // q_dedup_minhash_words (whole-text gram under 13 tokens), gram
      // STRINGS standing in for the hash values (collision-free convention);
      // distinct-gram join per (eval, train) side, then the hit counts and
      // flag — zeros restored by the left join
      WordGramCtes +
        "bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 101 = 0), " +
        "hits AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n FROM g " +
        "JOIN bg USING (gram) WHERE g.doc_id % 101 <> 0 GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(h.n, 0) AS n_shared_grams, " +
        "CAST(CASE WHEN coalesce(h.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated " +
        "FROM documents d LEFT JOIN hits h USING (doc_id) WHERE d.doc_id % 101 <> 0"),

    // exact repeated-substring scan (Lee et al. ACL'22 curation pass):
    // per-doc count of word-aligned 40-char grams appearing verbatim in at
    // least one other document; md5 gram digests are identical in both
    // engines, so the oracle re-derivation is string-exact
    // C4 three-sentence-span dedup (Raffel et al. JMLR'20 §2.2) over a
    // planted fixture (cross-doc shared span + within-doc doubled span);
    // the oracle replays sentence extraction, span digests, global
    // first-occurrence, coverage union, and the splice — clean-text md5
    // also proves the sentence pieces partition the text exactly
    Gate("q_dedup_sentences", (s, d) =>
      Dedup.dedupSentenceSpans(
        Tables.table(s, d, "documents").withColumn("text",
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit(sent3Tail)).otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0, lit(sent5Tail)).otherwise(lit("")))))
        .select(col("doc_id"),
          md5(coalesce(col("cleaned"), lit(""))).as("clean_md5"),
          col("n_sentences_removed")),
      // word-aligned 40-char gram digests re-derived string-exactly (md5 is
      // sentence extraction (same RE2/Java-agreeing pattern), chr(31)
      // span digests, (doc_id, pos)-first keeper, coverage-union splice
      s"WITH rt AS (SELECT doc_id, text || " +
        s"CASE WHEN doc_id % 3 = 0 THEN '$sent3Tail' ELSE '' END || " +
        s"CASE WHEN doc_id % 5 = 0 THEN '$sent5Tail' ELSE '' END AS text FROM documents), " +
        "pc AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$') AS ps FROM rt), " +
        "occ AS (SELECT doc_id, p AS pos, " +
        "md5(array_to_string(list_transform(ps[p+1:p+3], x -> trim(x)), chr(31))) AS dg " +
        "FROM pc, unnest(generate_series(0, len(ps) - 3)) AS u(p)), " +
        "fst AS (SELECT dg, doc_id AS kid, pos AS kpos FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY dg ORDER BY doc_id, pos) AS rn FROM occ) WHERE rn = 1), " +
        "drops AS (SELECT o.doc_id, o.pos FROM occ o JOIN fst f USING (dg) " +
        "WHERE NOT (o.doc_id = f.kid AND o.pos = f.kpos)), " +
        "dl AS (SELECT doc_id, list(pos ORDER BY pos) AS dps FROM drops GROUP BY doc_id), " +
        "outp AS (SELECT pc.doc_id, " +
        "CASE WHEN dl.doc_id IS NULL THEN array_to_string(ps, '') ELSE " +
        "array_to_string(list_transform(list_filter(generate_series(0, len(ps) - 1), " +
        "i -> len(list_filter(dl.dps, d -> d <= i AND i < d + 3)) = 0), " +
        "i -> ps[CAST(i AS INT) + 1]), '') END AS cleaned, " +
        "CASE WHEN dl.doc_id IS NULL THEN 0 ELSE " +
        "len(ps) - len(list_filter(generate_series(0, len(ps) - 1), " +
        "i -> len(list_filter(dl.dps, d -> d <= i AND i < d + 3)) = 0)) END AS nrem " +
        "FROM pc LEFT JOIN dl USING (doc_id)) " +
        "SELECT doc_id, md5(COALESCE(cleaned, '')) AS clean_md5, " +
        "CAST(nrem AS BIGINT) AS n_sentences_removed FROM outp"),

    Gate("q_dedup_substring", (s, d) =>
      Dedup.sharedSubstringStats(Tables.table(s, d, "documents"), minLen = 40),
      // the same function in both engines); range(1, len-38) is positions
      // 1..len-39 = the Spark sequence(1, length-39)
      "WITH grams AS (SELECT doc_id, unnest(list_distinct(" +
        "[md5(substr(text, CAST(i AS INT), 40)) FOR i IN range(1, len(text) - 38) " +
        "IF i = 1 OR substr(text, CAST(i AS INT) - 1, 1) = ' '])) AS g " +
        "FROM documents WHERE len(text) >= 40), " +
        "shared AS (SELECT g FROM (SELECT g, count(*) AS nd FROM grams GROUP BY g) " +
        "WHERE nd >= 2) " +
        "SELECT doc_id, count(*) AS n_shared_grams " +
        "FROM grams JOIN shared USING (g) GROUP BY doc_id"),

    // span COVERAGE: merged character intervals covered by cross-doc
    // repeated passages — the quantity a trim/drop rule thresholds on
    Gate("q_dedup_spans", (s, d) =>
      Dedup.sharedSpanStats(Tables.table(s, d, "documents"), minLen = 40),
      // same gram occurrences re-derived 1-based (pos = i-1 matches Spark's
      // 0-based offsets), then the identical gaps-and-islands interval merge
      s"WITH $SharedSpanCtes " +
        "SELECT doc_id, count(*) AS n_spans, CAST(sum(e - s) AS BIGINT) AS n_chars_covered " +
        "FROM spans GROUP BY doc_id"),

    // span REMOVAL: the full Lee-et-al edit — repeated spans cut out,
    // cleaned text md5-compared byte-for-byte across engines
    Gate("q_dedup_clean", (s, d) =>
      Dedup.removeSharedSpans(Tables.table(s, d, "documents"), minLen = 40)
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          col("n_chars_removed")),
      // identical span table, then the identical splice: between-spans
      // segments stitched in order plus the tail — md5 matches only if both
      // engines cut the same bytes
      s"WITH $SharedSpanCtes, " +
        "seg AS (SELECT doc_id, s, e, coalesce(lag(e) OVER " +
        "(PARTITION BY doc_id ORDER BY s), 0) AS c FROM spans), " +
        "pieces AS (SELECT seg.doc_id, " +
        "string_agg(substr(d.text, seg.c + 1, seg.s - seg.c), '' ORDER BY seg.s) AS body, " +
        "max(seg.e) AS laste FROM seg JOIN documents d USING (doc_id) GROUP BY seg.doc_id) " +
        "SELECT d.doc_id, md5(CASE WHEN p.doc_id IS NULL THEN d.text " +
        "ELSE p.body || substr(d.text, p.laste + 1, len(d.text) - p.laste) END) AS clean_md5, " +
        "CAST(len(d.text) - len(CASE WHEN p.doc_id IS NULL THEN d.text " +
        "ELSE p.body || substr(d.text, p.laste + 1, len(d.text) - p.laste) END) AS BIGINT) " +
        "AS n_chars_removed " +
        "FROM documents d LEFT JOIN pieces p USING (doc_id)"),

    // INCREMENTAL dedup: the %10==0 docs replay as an arriving batch
    // (id-offset into a fresh key space) probing a persisted MinHash index
    // of the full corpus — every batch doc is an exact copy of its source
    // (jaccard 1.0, so LSH recall is exactly 1 for those pairs) plus any
    // genuine near-dups of that source; the oracle brute-forces the same
    // cross-set Jaccard join
    Gate("q_dedup_incremental", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val path = s"/tmp/graft_mh_index_${Integer.toHexString(d.hashCode)}"
      Dedup.writeMinhashIndex(docs, path)
      Dedup.dedupAgainstIndex(s, path, batch, docs)
        .select(col("new_id"), col("corpus_id"))
    },
      // brute-force cross-set Jaccard between the rebuilt batch and the
      // corpus — same inverted-index CTE shape as JaccardPairsCtes, valid
      // for the same recall reasons (exact copies collide in every band;
      // near-dups at ≥ 0.8 detect at ≈ 0.9998)
      IncrementalOracleSql),

    // the incremental probe on the PUBLISHED word unit: 13-word-shingle
    // index + word-sig batch probe + word-gram exact verify — the lake
    // pattern (sign once, probe per batch) at the Gopher configuration
    Gate("q_dedup_incremental_words", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val path = s"/tmp/graft_mhw_index_${Integer.toHexString(d.hashCode)}"
      Dedup.writeMinhashIndex(docs, path, wordShingle = 13)
      Dedup.dedupAgainstIndex(s, path, batch, docs, wordShingle = 13)
        .select(col("new_id"), col("corpus_id"))
    },
      // the word-unit twin: brute-force 13-WORD-gram Jaccard across the
      // batch × corpus cut (same split, same threshold)
      "WITH bt AS (SELECT doc_id + 1000000 AS new_id, text FROM documents WHERE doc_id % 10 = 0), " +
        "wta AS (SELECT new_id, list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS t FROM bt), " +
        "wtb AS (SELECT doc_id, list_filter(string_split_regex(" +
        "lower(coalesce(text, '')), '[^a-z]+'), x -> x <> '') AS t FROM documents), " +
        "ga AS (SELECT new_id, unnest(list_distinct(CASE WHEN len(t) = 0 THEN [] " +
        "WHEN len(t) < 13 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(range(1, len(t) - 11), i -> array_to_string(t[i:i+12], ' ')) END)) AS gram FROM wta), " +
        "gb AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) = 0 THEN [] " +
        "WHEN len(t) < 13 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(range(1, len(t) - 11), i -> array_to_string(t[i:i+12], ' ')) END)) AS gram FROM wtb), " +
        CrossJaccardSelect),

    // the SAME incremental probe through the Bloom key pre-screen: no
    // false negatives means screen-on results must equal screen-off, so
    // this gate shares q_dedup_incremental's brute-force oracle verbatim
    // — the oracle compare independently proves screen-invariance
    Gate("q_dedup_incremental_bloom", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val path = s"/tmp/graft_mh_index_${Integer.toHexString(d.hashCode)}"
      val bloom = s"/tmp/graft_mh_bloom_${Integer.toHexString(d.hashCode)}"
      Dedup.writeMinhashIndex(docs, path)
      Dedup.writeBloomIndex(s, path, bloom)
      Dedup.dedupAgainstIndex(s, path, batch, docs, bloomPath = Some(bloom))
        .select(col("new_id"), col("corpus_id"))
    },
      // identical oracle by design: the Bloom screen must be result-invariant
      IncrementalOracleSql),

    // LINE-level global dedup (C4 keep-one-occurrence boilerplate removal):
    // fixture adds shared header/footer lines keyed on doc_id so the pass
    // has real cross-doc boilerplate to strip; the oracle re-derives the
    // identical first-occurrence rule and the spliced text md5
    Gate("q_dedup_lines", (s, d) =>
      Dedup.dedupLines(
          Tables.table(s, d, "documents").withColumn("text", lineDedupFixtureText))
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          col("n_lines_removed")),
      "WITH fx AS (SELECT doc_id, 'shared header line for corpus group ' || " +
        "CAST(doc_id % 5 AS VARCHAR) || chr(10) || text || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'shared even-documents footer boilerplate line' " +
        "ELSE '' END AS text FROM documents), " +
        "ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM fx), " +
        "l AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, arr[CAST(i AS INT)] AS ln " +
        "FROM ls, unnest(range(1, len(arr) + 1)) AS t(i)), " +
        "el AS (SELECT doc_id, pos, md5(ln) AS dg FROM l WHERE length(trim(ln)) >= 10), " +
        "rk AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY dg " +
        "ORDER BY doc_id, pos) AS rn FROM el), " +
        "dr AS (SELECT doc_id, pos FROM rk WHERE rn > 1), " +
        "kept AS (SELECT l.doc_id, l.pos, l.ln FROM l LEFT JOIN dr " +
        "ON l.doc_id = dr.doc_id AND l.pos = dr.pos WHERE dr.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id), " +
        "nrm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dr GROUP BY doc_id) " +
        "SELECT f.doc_id, md5(coalesce(a.cleaned, '')) AS clean_md5, " +
        "coalesce(n.n, 0) AS n_lines_removed " +
        "FROM fx f LEFT JOIN agg a USING (doc_id) LEFT JOIN nrm n USING (doc_id)"),

    // PARAGRAPH-granularity dedup (MassiveText unit): blank-line-separated
    // blocks keep their first (doc_id, pos) occurrence — same machinery as
    // q_dedup_lines with the "\n\n" separator; the oracle re-derives the
    // keep rule and splice over the rebuilt paragraph fixture
    Gate("q_dedup_paragraphs", (s, d) =>
      Dedup.dedupParagraphs(
          Tables.table(s, d, "documents").withColumn("text", paragraphFixtureText))
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          col("n_lines_removed").as("n_paras_removed")),
      // paragraph replay: the line-dedup oracle with a two-newline separator
      // and the paragraph fixture (min eligible length 20)
      "WITH fx AS (SELECT doc_id, 'shared introductory paragraph for corpus group ' || " +
        "CAST(doc_id % 6 AS VARCHAR) || chr(10) || chr(10) || text || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || chr(10) || " +
        "'shared closing paragraph across all even documents' " +
        "ELSE '' END AS text FROM documents), " +
        "ls AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS arr FROM fx), " +
        "l AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, arr[CAST(i AS INT)] AS ln " +
        "FROM ls, unnest(range(1, len(arr) + 1)) AS t(i)), " +
        "el AS (SELECT doc_id, pos, md5(ln) AS dg FROM l WHERE length(trim(ln)) >= 20), " +
        "rk AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY dg " +
        "ORDER BY doc_id, pos) AS rn FROM el), " +
        "dr AS (SELECT doc_id, pos FROM rk WHERE rn > 1), " +
        "kept AS (SELECT l.doc_id, l.pos, l.ln FROM l LEFT JOIN dr " +
        "ON l.doc_id = dr.doc_id AND l.pos = dr.pos WHERE dr.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(ln, chr(10) || chr(10) ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id), " +
        "nrm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dr GROUP BY doc_id) " +
        "SELECT f.doc_id, md5(coalesce(a.cleaned, '')) AS clean_md5, " +
        "coalesce(n.n, 0) AS n_paras_removed " +
        "FROM fx f LEFT JOIN agg a USING (doc_id) LEFT JOIN nrm n USING (doc_id)"),

    // URL/domain provenance filtering (RefinedWeb/C4-style): fixture
    // injects two doc_id-derived URLs (mixed case, www., path/query) per
    // doc; domains normalize scan-locally and the blocklist decision is a
    // broadcast semi-join — the oracle replays extraction, normalization,
    // and the blocklist hit via the same Java/RE2-parity patterns
    Gate("q_url_filter", (s, d) => {
      import s.implicits._
      val fx = Tables.table(s, d, "documents")
        .withColumn("text", concat(col("text"),
          lit(" see https://Site-"), pmod(col("doc_id"), lit(7)),
          lit(".example.com/page?id="), col("doc_id"),
          lit(" and http://www.Mirror-"), pmod(col("doc_id"), lit(3)),
          lit(".example.org/x")))
      val bl = Seq("site-2.example.com", "mirror-1.example.org").toDF("domain")
      Provenance.flagBlocked(Provenance.withDomains(fx), bl)
        .select(col("doc_id"), col("n_urls"),
          size(col("domains")).cast("long").as("n_domains"),
          array_join(col("domains"), ",").as("domains_csv"), col("blocked"))
    },
      // rebuilds the line-dedup fixture, replays the identical
      // first-occurrence rule (row_number over digest ordered by doc, pos =
      // Spark's min(struct(id, pos))), and re-splices kept lines in order —
      // clean_md5 only matches if both engines keep byte-identical lines
      // same fixture URLs; extraction/normalization replayed with the same
      // RE2-parity patterns; blocklist hit via unnest + VALUES join
      "WITH fx AS (SELECT doc_id, text || ' see https://Site-' || " +
        "CAST(doc_id % 7 AS VARCHAR) || '.example.com/page?id=' || " +
        "CAST(doc_id AS VARCHAR) || ' and http://www.Mirror-' || " +
        "CAST(doc_id % 3 AS VARCHAR) || '.example.org/x' AS text FROM documents), " +
        "e AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(:[0-9]{1,5})?[A-Za-z0-9/._~%+&#?=-]*')) AS n_urls, " +
        "list_sort(list_distinct(list_transform(" +
        "regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(:[0-9]{1,5})?[A-Za-z0-9/._~%+&#?=-]*'), " +
        "x -> regexp_replace(regexp_extract(lower(x), 'https?://([a-z0-9.-]+)', 1), '^www\\.', '')))) AS doms " +
        "FROM fx), " +
        "hits AS (SELECT DISTINCT doc_id FROM " +
        "(SELECT doc_id, unnest(doms) AS d FROM e) q " +
        "JOIN (VALUES ('site-2.example.com'), ('mirror-1.example.org')) AS bl(d) USING (d)) " +
        "SELECT e.doc_id, CAST(n_urls AS BIGINT) AS n_urls, " +
        "CAST(len(doms) AS BIGINT) AS n_domains, " +
        "array_to_string(doms, ',') AS domains_csv, " +
        "CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS blocked " +
        "FROM e LEFT JOIN hits h ON e.doc_id = h.doc_id"),

    // URL-keyed crawl dedup: one doc per canonical page key (lowercase,
    // port/www./fragment/trailing-slash stripped, query kept); the fixture
    // plants colliding mixed-case/port/fragment URL variants keyed on
    // doc_id % 17 and leaves 1/4 of docs URL-less (always kept); the
    // oracle re-derives key, keeper, and flag from the same text
    Gate("q_dedup_url", (s, d) => {
      val fx = Tables.table(s, d, "documents")
        .withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) =!= 3,
            concat(lit(" see https://WWW.Example.com:8080/page"),
              pmod(col("doc_id"), lit(17)), lit("/#sec"),
              pmod(col("doc_id"), lit(3)))).otherwise(lit(""))))
      Provenance.dedupByUrl(fx)
        .select(col("doc_id"), col("url_key"), col("kept"))
    },
      // key/keeper/flag replay: same extraction, same literal-replacement
      // normalization chain, min-id keeper, URL-less docs always kept
      "WITH fx AS (SELECT doc_id, text || CASE WHEN doc_id % 4 <> 3 THEN " +
        "' see https://WWW.Example.com:8080/page' || CAST(doc_id % 17 AS VARCHAR) " +
        "|| '/#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END AS text FROM documents), " +
        "u0 AS (SELECT doc_id, lower(regexp_extract(text, " +
        "'https?://[A-Za-z0-9.-]+(:[0-9]{1,5})?[A-Za-z0-9/._~%+&#?=-]*', 0)) AS u FROM fx), " +
        "k AS (SELECT doc_id, CASE WHEN u IS NULL OR u = '' THEN NULL ELSE " +
        "regexp_replace(regexp_extract(u, 'https?://([a-z0-9.-]+)', 1), '^www\\.', '') || " +
        "regexp_replace(regexp_replace(regexp_replace(u, " +
        "'^https?://[a-z0-9.-]+(:[0-9]{1,5})?', ''), '#.*$', ''), '/$', '') END AS url_key " +
        "FROM u0), " +
        "keep AS (SELECT url_key, min(doc_id) AS kid FROM k " +
        "WHERE url_key IS NOT NULL GROUP BY url_key) " +
        "SELECT k.doc_id, k.url_key, " +
        "CAST(CASE WHEN k.url_key IS NULL OR k.doc_id = kp.kid THEN 1 ELSE 0 END AS BIGINT) AS kept " +
        "FROM k LEFT JOIN keep kp USING (url_key)"),

    // INCREMENTAL line dedup: corpus (3/4 of docs) line-hashed into a
    // persisted digest index; the arriving batch (1/4) is cleaned against
    // the index plus its own within-batch first-occurrence rule — the
    // foreachBatch body of the streaming twin, oracled end to end
    Gate("q_dedup_lines_incr", (s, d) => {
      val fx = Tables.table(s, d, "documents")
        .withColumn("text", lineDedupFixtureText)
      val corpus = fx.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val batch = fx.filter(pmod(col("doc_id"), lit(4)) === 0)
      val path = s"/tmp/graft_line_index_${Integer.toHexString(d.hashCode)}"
      Dedup.writeLineIndex(corpus, path)
      Dedup.dedupLinesAgainstIndex(s, path, batch)
        .select(col("doc_id"), md5(col("cleaned")).as("clean_md5"),
          col("n_lines_removed"))
    },
      // the oracle rebuilds the index semantics in SQL: corpus digests are a
      // DISTINCT set; a batch line drops when its digest is in that set OR a
      // batch-internal (id, pos) predecessor shares it; splice as q_dedup_lines
      "WITH fx AS (SELECT doc_id, 'shared header line for corpus group ' || " +
        "CAST(doc_id % 5 AS VARCHAR) || chr(10) || text || " +
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'shared even-documents footer boilerplate line' " +
        "ELSE '' END AS text FROM documents), " +
        "bat AS (SELECT * FROM fx WHERE doc_id % 4 = 0), " +
        "cls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM fx WHERE doc_id % 4 <> 0), " +
        "cl AS (SELECT arr[CAST(i AS INT)] AS ln FROM cls, unnest(range(1, len(arr) + 1)) AS t(i)), " +
        "cdg AS (SELECT DISTINCT md5(ln) AS dg FROM cl WHERE length(trim(ln)) >= 10), " +
        "ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM bat), " +
        "l AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, arr[CAST(i AS INT)] AS ln " +
        "FROM ls, unnest(range(1, len(arr) + 1)) AS t(i)), " +
        "el AS (SELECT doc_id, pos, md5(ln) AS dg FROM l WHERE length(trim(ln)) >= 10), " +
        "rk AS (SELECT doc_id, pos, dg, row_number() OVER " +
        "(PARTITION BY dg ORDER BY doc_id, pos) AS rn FROM el), " +
        "dr AS (SELECT doc_id, pos FROM rk WHERE rn > 1 " +
        "OR dg IN (SELECT dg FROM cdg)), " +
        "kept AS (SELECT l.doc_id, l.pos, l.ln FROM l LEFT JOIN dr " +
        "ON l.doc_id = dr.doc_id AND l.pos = dr.pos WHERE dr.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS cleaned " +
        "FROM kept GROUP BY doc_id), " +
        "nrm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dr GROUP BY doc_id) " +
        "SELECT b.doc_id, md5(coalesce(a.cleaned, '')) AS clean_md5, " +
        "coalesce(n.n, 0) AS n_lines_removed FROM bat b " +
        "LEFT JOIN agg a USING (doc_id) LEFT JOIN nrm n USING (doc_id)")
  )
}
