package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftShims, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlFunctions

/**
 * Document deduplication for large-scale training-data pipelines.
 *
 * Scale design: every method is a declarative plan built from
 * candidate-generation (cheap blocking key, one shuffle on the key) +
 * verification (exact similarity on candidate pairs only). Nothing is
 * quadratic in the corpus; the only quadratic term is within an LSH bucket,
 * which `maxBucket` caps (skew guard — a degenerate bucket of near-identical
 * boilerplate would otherwise explode the pair count at 100 TB).
 */
object Dedup {
  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftShims.column(e)
  private def e(col: Column) = GraftShims.expression(col)

  def simhash(text: Column, shingle: Int = 5): Column =
    SqlFunctions.simhash64(text, lit(shingle))

  def ngramJaccard(a: Column, b: Column, n: Int = 5): Column =
    SqlFunctions.ngramJaccard(a, b, lit(n))

  /**
   * Exact dedup: one representative row id per identical tuple of `cols`
   * (hash-groupBy; partial aggregation makes this one map-side-combined
   * shuffle). Groups on the COLUMN VALUES themselves, never on a string
   * concatenation (whose boundaries are ambiguous: "x y"+"z" vs "x"+"y z").
   * Returns (dup_hash, n_dups, keep_id); dup_hash only labels the group.
   */
  def exact(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .select(md5(concat_ws(" ", cols.map(col): _*)).as("dup_hash"),
        col("n_dups"), col("keep_id"))

  /**
   * Cross-source exact-duplicate overlap matrix: for every unordered pair
   * of sources, the number of DISTINCT texts present in both — the report
   * that sizes snapshot-over-snapshot crawl overlap and tells a mixture
   * designer which sources double-count each other before weights are
   * chosen. Set semantics per source (a text repeated within one source
   * counts once).
   *
   * Plan: 16-byte digests shuffle, text never does (the [[exact]]
   * contract); ONE digest aggregation collects each digest's source set,
   * pairs expand in-row bounded by |sources|² (a report-table constant,
   * never corpus-sized), and the pair counts map-side-combine.
   */
  def sourceOverlap(df: DataFrame, groupCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val perHash = df.filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("__h"), col(groupCol).as("__src"))
      .groupBy(col("__h"))
      .agg(array_sort(collect_set(col("__src"))).as("__srcs"))
      .filter(size(col("__srcs")) >= 2)
    perHash.select(explode(col("__srcs")).as("source_a"), col("__srcs"))
      .select(col("source_a"), explode(col("__srcs")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
  }

  /** Attach dropped-bucket metrics (`Dataset.observe`) to a bucket table
    * that still carries its size column, then apply the cap. The observe
    * node stays in the final plan's lineage, so `metrics.get` after any
    * action on the result reports the metrics — the cap is counted, never
    * silent. Counting unit is the (band, bucket) PAIR: `dropped_buckets`
    * counts over-cap band-buckets and `dropped_id_slots` their id×band
    * slots — an id dropped from one band's bucket may still be emitted via
    * another band, so slots are an upper bound on lost ids, not a distinct
    * id count. */
  private def capBuckets(buckets: DataFrame, sizeCol: Column, maxBucket: Int,
                         metrics: Option[Observation],
                         extraMetrics: Seq[Column] = Nil): DataFrame = {
    val observed = metrics match {
      case Some(obs) =>
        val base = Seq(
          sum(when(sizeCol > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
          sum(when(sizeCol > maxBucket, sizeCol).otherwise(0L)).as("dropped_id_slots"),
          max(sizeCol).as("max_bucket_size")) ++ extraMetrics
        buckets.observe(obs, base.head, base.tail: _*)
      case None => buckets
    }
    observed.filter(sizeCol.between(2, maxBucket))
  }

  /** The containment volume guard's cutoff rule: largest gdf such that the
    * CONTIGUOUS histogram prefix {gdf' ≤ gdf} fits `budgetPairs`, with its
    * cumulative volume. MUST break at the first over-budget bucket — the
    * cap keeps every bucket up to the returned cutoff, so a
    * skip-and-continue accumulation would report a small kept count while
    * actually keeping every later small bucket too (measured on the
    * 10×-replica sf1 corpus: reported 3.6M kept, enumerated 250M,
    * ENOSPC'd the verify). `hist` must be (gdf, volume) in ascending gdf. */
  private[pipeline] def guardCutoff(hist: Seq[(Long, Long)],
                                    budgetPairs: Long): (Long, Long) = {
    var cum = 0L
    var cutoff = 1L
    var fits = true
    hist.foreach { case (gdf, vol) =>
      if (fits && cum + vol <= budgetPairs) { cum += vol; cutoff = gdf }
      else fits = false
    }
    (cutoff, cum)
  }

  /**
   * [[guardCutoff]] plus the floor-to-2 rule shared by every volume guard:
   * size-2 buckets are the irreducible minimum for ANY pair output, and a
   * sub-2 cap would make the bucket filter a statically-false predicate the
   * optimizer folds away — taking the metrics observation with it (drops
   * went silent in a degenerate-budget probe). When the floor FIRES
   * (cutoff < 2, i.e. even the size-2 buckets alone exceed the budget) the
   * kept-volume metric is recomputed as the size-2 histogram entry's
   * volume, so `guard_kept_candidates` reports what the effective cap
   * actually keeps — and in that degenerate case the budget is a SOFT
   * bound (the caller's stderr message must say so).
   * Returns (effectiveCap, keptVolume, floorFired).
   */
  private[pipeline] def guardEffective(hist: Seq[(Long, Long)],
                                       budgetPairs: Long,
                                       maxBucket: Int): (Int, Long, Boolean) = {
    val (cutoff, cum) = guardCutoff(hist, budgetPairs)
    val floored = cutoff < 2L
    val kept = if (floored) hist.collectFirst { case (2L, v) => v }.getOrElse(0L)
               else cum
    (math.max(2L, math.min(maxBucket.toLong, cutoff)).toInt, kept, floored)
  }

  /**
   * MinHash+LSH near-duplicate pairs: shingle → minhash → band → bucket
   * equi-join → exact n-gram-Jaccard verification. Emits (id_a, id_b,
   * jaccard) with id_a < id_b and jaccard ≥ threshold.
   *
   * Plan shape: posexplode(bands) → shuffle on (band, key) via self-join →
   * distinct candidate pairs → verify. Bucket-size cap `maxBucket` drops
   * degenerate buckets — all-pairs-identical boilerplate whose quadratic
   * pair count would explode at 100 TB. Pass `metrics` to observe how many
   * buckets/ids the cap dropped (see [[capBuckets]]); the recommended
   * preprocessing is exact dedup first, which removes exactly the mass that
   * concentrates in over-cap buckets.
   */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16, shingle: Int = 5,
                      threshold: Double = 0.8, maxBucket: Int = 1000,
                      metrics: Option[Observation] = None): DataFrame = {
    lshPairsImpl(df, idCol, textCol,
      t => SqlFunctions.minhashSig(t, lit(numHashes), lit(shingle)),
      (a, b) => ngramJaccard(a, b, shingle),
      bands, threshold, maxBucket, metrics)
  }

  /**
   * [[minhashLshPairs]] on WORD shingles — the published near-dup
   * configuration (Gopher/MassiveText §A1.2 and SlimPajama shingle on 13
   * WORDS at Jaccard 0.8; char shingles catch byte mirrors, word shingles
   * catch token-level rewrites and ignore whitespace/punctuation noise).
   * Words are the corpus-standard [a-z]+ lowercase tokens, so the gram
   * sets replay in any engine; docs shorter than `shingleWords` tokens
   * contribute ONE whole-doc shingle (the short-text convention shared
   * with the char unit). Same signature/band/bucket/verify pipeline and
   * the same cap + metrics contract as the char variant — only the
   * shingle unit differs.
   */
  def minhashLshPairsWords(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 64, bands: Int = 16,
                           shingleWords: Int = 13,
                           threshold: Double = 0.8, maxBucket: Int = 1000,
                           metrics: Option[Observation] = None): DataFrame = {
    lshPairsImpl(df, idCol, textCol,
      t => SqlFunctions.minhashSigWords(t, lit(numHashes), lit(shingleWords)),
      (a, b) => SqlFunctions.wordNgramJaccard(a, b, lit(shingleWords)),
      bands, threshold, maxBucket, metrics)
  }

  /** The shared LSH pipeline behind both shingle units: signature →
    * band → capped bucket → estimate-prefiltered in-bucket candidates →
    * exact verify. `sigOf` builds the signature column from the text;
    * `verifyJaccard` the exact Jaccard column for the verify join. */
  private def lshPairsImpl(df: DataFrame, idCol: String, textCol: String,
                           sigOf: Column => Column,
                           verifyJaccard: (Column, Column) => Column,
                           bands: Int, threshold: Double, maxBucket: Int,
                           metrics: Option[Observation]): DataFrame = {
    // default 64 hashes / 16 bands of 4: detection prob at s=0.8 is
    // 1-(1-0.8^4)^16 ≈ 0.9998 — same band width as 128/32 at half the
    // signature cost (the dominant term of corpus-scale dedup)
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))

    // 1. one signature pass per document (the only scan of the full text)
    val sigs = base
      .select(col("id"), sigOf(col("text")).as("sig"))

    // 2. band → bucket, CARRYING the signature into the bucket rows: the
    //    candidate shuffle ships n × bands × (id + sig ≈ 0.5 KB) — the
    //    signature is the compact document sketch, so this is the cheap
    //    way to make the estimate computable where the pairs are born.
    //    (The previous shape shuffled ids only, then joined the sig table
    //    onto every raw candidate pair — on a boilerplate-heavy corpus
    //    that was a multi-GB join of 14M+ pairs × two 0.5 KB sigs,
    //    measured ~3× the cost of this whole pipeline.)
    //    maxBucket caps the quadratic term on skewed buckets.
    val grouped = sigs
      .select(col("id"), col("sig"), posexplode(SqlFunctions.sigBands(col("sig"), lit(bands))))
      .groupBy(col("pos"), col("col"))
      .agg(collect_list(struct(col("id"), col("sig"))).as("items"))
    val buckets = capBuckets(grouped, size(col("items")), maxBucket, metrics)

    // 3. in-bucket pairs with the signature-estimate prefilter applied AT
    //    THE SOURCE — LSH false positives die before any pair leaves the
    //    bucket, so only plausible candidates pay the dedup shuffle
    val estimated = buckets
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .filter(SqlFunctions.sigJaccard(col("a.sig"), col("b.sig")) >= threshold - 0.2)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // 4. exact n-gram-Jaccard verification on surviving candidates only
    val ta = base.select(col("id").as("id_a"), col("text").as("text_a"))
    val tb = base.select(col("id").as("id_b"), col("text").as("text_b"))
    estimated.join(ta, "id_a").join(tb, "id_b")
      .withColumn("jaccard", verifyJaccard(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Connected-component LABELS of the MinHash-LSH near-duplicate graph,
   * WITHOUT enumerating the quadratic in-clique pair mass — the linear
   * clustering path behind [[textKeepList]]. Returns (id, cluster) with
   * cluster = min member id, EXACTLY equal to
   * `clusters(minhashLshPairs(df, ...))` (differential-tested).
   *
   * Why the pair table is the wrong intermediate for clustering: a corpus
   * with replication factor r (r near-identical copies per document — the
   * re-hosted/boilerplate shape that dominates web crawls) has r(r−1)/2
   * true pairs per clique, so the pair stage costs r× more per DOCUMENT
   * every time the corpus duplicates further, while the component labeling
   * it feeds is the same answer a spanning subset of edges yields.
   * Connected components never needed the whole clique.
   *
   * CONNECTIVITY-SUFFICIENT PAIRING (two verify rounds, exact):
   *
   *  1. CHAIN round: within each capped bucket, sorted by id, only the
   *     n−1 ADJACENT pairs are candidates (same estimate prefilter as the
   *     pair op). A clique of r replicas connects with r−1 verifications
   *     instead of r(r−1)/2, and the chains repeat identically across
   *     bands, so the dedup shuffle carries bands×(n−1) rows, not
   *     bands×n²/2. Verified chain edges → [[clusters]] → provisional
   *     labels L₁.
   *  2. CROSS-COMPONENT round: re-walk the SAME buckets with L₁ attached;
   *     buckets whose members all share one label are DONE (on a
   *     replica-heavy corpus that is nearly all of them — one cheap
   *     array_distinct test, no enumeration); the rest enumerate only
   *     pairs whose endpoints carry DIFFERENT labels, estimate-filter,
   *     verify, and fold into the labeling incrementally.
   *
   * Exactness: let G be the pair op's verified graph. Every round-1 edge
   * is in G (same bucket, same estimate filter, same verify). Any G-edge
   * (a,b) not enumerated is skipped only because L₁(a) = L₁(b) — i.e. a,b
   * already connected by verified edges — or is enumerated in round 2.
   * Skipping an edge inside a known component never changes connected
   * components, so CC(round-1 ∪ round-2 edges) = CC(G). The capped bucket
   * stream is materialized ONCE and both rounds read the same blocks, so
   * the cap (and its drop metrics) applies identically.
   *
   * 100 TB shape: every stage is linear in corpus × bands except the
   * round-2 enumeration, which only pays on buckets that mix components —
   * the adversarial residue, not the duplication mass. State never
   * includes text: signatures ride the band shuffle (the [[lshPairsImpl]]
   * lesson), text is read only by the two verify joins whose candidate
   * counts are ~|corpus|, not ~pairs.
   */
  def minhashLshLabels(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 64, bands: Int = 16, shingle: Int = 5,
                       threshold: Double = 0.8, maxBucket: Int = 1000,
                       metrics: Option[Observation] = None,
                       maxIter: Int = 12,
                       checkpointDir: Option[String] = None,
                       chainBands: Int = Int.MaxValue,
                       labelBroadcastMaxEntries: Long = 8000000L): DataFrame = {
    lshLabelsImpl(df, idCol, textCol,
      t => SqlFunctions.minhashSig(t, lit(numHashes), lit(shingle)),
      (a, b) => ngramJaccard(a, b, shingle),
      bands, threshold, maxBucket, metrics, maxIter, checkpointDir, chainBands,
      labelBroadcastMaxEntries)
  }

  /**
   * [[minhashLshLabels]] rebuilt from a persisted [[writeMinhashIndex]]
   * artifact — the labeling half of the lake cadence pays NO fresh
   * signature pass: the index rows (id, sig, band, key) regroup into
   * exactly the capped id-sorted buckets the in-memory path builds (band →
   * pos, key → col; same struct order, same sort, same `maxBucket` cap and
   * metrics), and the chain + cross-component rounds run unchanged. Corpus
   * TEXT is read only by the two verify joins — at the lake this turns
   * "label the corpus" from a second full signature scan into a regroup of
   * an artifact that already exists for [[dedupAgainstIndex]] probes.
   * Output exactly equals `minhashLshLabels(corpus, ...)` with the
   * (numHashes, bands, shingle/wordShingle) the index was written with
   * (differential-tested); as everywhere, an index and its consumers must
   * agree on the signature unit.
   */
  def minhashLshLabelsFromIndex(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String, corpus: DataFrame,
                                idCol: String = "doc_id", textCol: String = "text",
                                shingle: Int = 5, wordShingle: Int = 0,
                                threshold: Double = 0.8, maxBucket: Int = 1000,
                                metrics: Option[Observation] = None,
                                maxIter: Int = 12,
                                checkpointDir: Option[String] = None,
                                chainBands: Int = Int.MaxValue,
                                labelBroadcastMaxEntries: Long = 8000000L): DataFrame = {
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"))
    val buckets = Checkpoints.materialize(
      capBuckets(spark.read.parquet(s"$indexPath/bands")
        .join(spark.read.parquet(s"$indexPath/sigs"), "id")
        .select(col("id").cast("long").as("id"), col("sig"),
          col("band").as("pos"), col("key").as("col"))
        .groupBy(col("pos"), col("col"))
        .agg(sort_array(collect_list(struct(col("id"), col("sig")))).as("items")),
        size(col("items")), maxBucket, metrics),
      checkpointDir)
    val verify: (Column, Column) => Column =
      if (wordShingle > 0)
        (a, b) => SqlFunctions.wordNgramJaccard(a, b, lit(wordShingle))
      else (a, b) => ngramJaccard(a, b, shingle)
    labelsFromBuckets(base, buckets, verify, threshold, maxIter,
      checkpointDir, chainBands, labelBroadcastMaxEntries)
  }

  /** The two-round connectivity-sufficient labeling behind
    * [[minhashLshLabels]] — same signature/band/bucket/verify pieces as
    * [[lshPairsImpl]], pair enumeration replaced by chain + cross-component
    * rounds (see the public scaladoc for the exactness argument). */
  private def lshLabelsImpl(df: DataFrame, idCol: String, textCol: String,
                            sigOf: Column => Column,
                            verifyJaccard: (Column, Column) => Column,
                            bands: Int, threshold: Double, maxBucket: Int,
                            metrics: Option[Observation],
                            maxIter: Int,
                            checkpointDir: Option[String],
                            chainBands: Int,
                            labelBroadcastMaxEntries: Long): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    // id-sorted bucket arrays CARRYING the signatures (the [[lshPairsImpl]]
    // trade: the sig is the compact document sketch that lets the estimate
    // run where candidates are born — no sig join ever touches a
    // pair-shaped stream), capped, materialized ONCE: the chain round and
    // the residue round read the same blocks, the signature pass (the
    // dominant text-scan cost) runs once, and the cap metrics observe once.
    val buckets = Checkpoints.materialize(
      capBuckets(base
        .select(col("id"), sigOf(col("text")).as("sig"))
        .select(col("id"), col("sig"), posexplode(SqlFunctions.sigBands(col("sig"), lit(bands))))
        .groupBy(col("pos"), col("col"))
        .agg(sort_array(collect_list(struct(col("id"), col("sig")))).as("items")),
        size(col("items")), maxBucket, metrics),
      checkpointDir)
    labelsFromBuckets(base, buckets, verifyJaccard, threshold, maxIter,
      checkpointDir, chainBands, labelBroadcastMaxEntries)
  }

  /** The chain + cross-component rounds of [[lshLabelsImpl]], starting from
    * an already-materialized capped bucket frame (pos, col, items[(id,
    * sig)]) — shared by the in-memory path and
    * [[minhashLshLabelsFromIndex]], whose buckets regroup from the
    * persisted artifact instead of a fresh signature pass. */
  private def labelsFromBuckets(base: DataFrame, buckets: DataFrame,
                                verifyJaccard: (Column, Column) => Column,
                                threshold: Double,
                                maxIter: Int,
                                checkpointDir: Option[String],
                                chainBands: Int,
                                labelBroadcastMaxEntries: Long): DataFrame = {
    val estOk = (a: Column, b: Column) =>
      SqlFunctions.sigJaccard(a, b) >= threshold - 0.2
    // exact verify on an estimate-surviving candidate set (text joins only;
    // the estimate prefilter is REQUIRED for exactness — its false
    // negatives are part of the graph contract — and always runs at the
    // bucket, before candidates pay any shuffle)
    def verifyOnly(cand: DataFrame): DataFrame = {
      val ta = base.select(col("id").as("id_a"), col("text").as("text_a"))
      val tb = base.select(col("id").as("id_b"), col("text").as("text_b"))
      cand.join(ta, "id_a").join(tb, "id_b")
        .filter(verifyJaccard(col("text_a"), col("text_b")) >= threshold)
        .select(col("id_a"), col("id_b"))
    }
    // round 1: adjacent-in-bucket chains from the first `chainBands`
    // bands, over ID-ONLY buckets (an 8-byte band shuffle): chains are
    // ~(n-1) per bucket and repeat across bands, so the estimate joins its
    // signatures onto the small DEDUPED candidate set instead of shipping
    // 0.5 KB sigs into every bucket slot. Members a band's fragmentation
    // strands connect through round 2 like any other residue — exactness
    // never depended on round-1 coverage (chainBands = 0 degrades to the
    // pair op's full per-bucket enumeration in round 2).
    val adjacent = buckets
      .filter(col("pos") < chainBands)
      .select(explode(expr(
        "transform(slice(items, 1, size(items) - 1), " +
          "(x, i) -> struct(x AS a, items[i + 1] AS b))")).as("p"))
      .filter(estOk(col("p.a.sig"), col("p.b.sig")))
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"))
    // MIN-NEIGHBOR STAR of the estimate-passing chain candidates: each node
    // keeps one edge, to its smallest est-passing adjacent candidate — a
    // map-side-combined aggregate over the raw cross-band chain stream (no
    // pair-identity dedup shuffle), so the verify set is <= |corpus| edges
    // no matter how many bands contribute chains. A clique's members all
    // pick the clique min (the star IS its spanning tree); pathological
    // candidate shapes can under-connect, which round 2 heals like any
    // other residue. Estimating BEFORE the star matters: the min raw
    // neighbor is often a foreign-body bucket coincidence whose est fails,
    // and a star built on it would strand the node for round 2 wholesale.
    val chainCand = adjacent
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(adjacent.select(col("id_b").as("u"), col("id_a").as("v")))
      .groupBy(col("u")).agg(min(col("v")).as("v"))
      .select(least(col("u"), col("v")).as("id_a"),
        greatest(col("u"), col("v")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // no materialization on edges1: clusters() caches its (sole) read
    val edges1 = verifyOnly(chainCand)
    val lab1 = Checkpoints.materialize(
      clusters(edges1, maxIter, checkpointDir = checkpointDir), checkpointDir)
    // round 2: only buckets mixing >= 2 provisional components enumerate,
    // and only their cross-component pairs, estimate-filtered at the
    // source. Labels reach INSIDE the buckets via a broadcast binary-search
    // lookup (16 B per clustered doc) whenever the labeling fits
    // `labelBroadcastMaxEntries` — the multi-label test and the
    // cross-label pair filter are then pure in-row CPU over the already-
    // materialized bucket blocks: no explode-join-regroup of sig-carrying
    // rows at all. Past the broadcast budget (a billion-doc lake whose
    // labeling is itself corpus-sized) the shuffle form runs instead:
    // ids-only label walk -> countDistinct per bucket -> sig regroup of
    // ONLY the multi-label residue.
    val nLab1 = lab1.count()
    val crossCand = if (nLab1 <= labelBroadcastMaxEntries) {
      val pairsArr = {
        import base.sparkSession.implicits._
        lab1.select(col("id").cast("long"), col("cluster").cast("long"))
          .as[(Long, Long)].collect().sortBy(_._1)
      }
      val bc = base.sparkSession.sparkContext.broadcast(
        (pairsArr.map(_._1), pairsArr.map(_._2)))
      buckets
        .select(c(org.apache.spark.sql.graft.CrossLabelPairs(
          e(col("items")), e(lit(threshold - 0.2)), bc)))
        .dropDuplicates("id_a", "id_b")
    } else {
      val lab1r = lab1.withColumnRenamed("id", "__lid")
        .withColumnRenamed("cluster", "__lc")
      val multiKeys = buckets
        .select(col("pos"), col("col"), explode(expr("transform(items, x -> x.id)")).as("id"))
        .join(lab1r, col("id") === col("__lid"), "left")
        .select(col("pos"), col("col"), coalesce(col("__lc"), col("id")).as("lab"))
        .groupBy(col("pos"), col("col"))
        .agg(countDistinct(col("lab")).as("__nl"))
        .filter(col("__nl") > 1).select(col("pos"), col("col"))
      val regrouped = buckets.join(multiKeys, Seq("pos", "col"))
        .select(col("pos"), col("col"), explode(col("items")).as("it"))
        .join(lab1r, col("it.id") === col("__lid"), "left")
        .select(col("pos"), col("col"), col("it"),
          coalesce(col("__lc"), col("it.id")).as("lab"))
        .groupBy(col("pos"), col("col"))
        .agg(collect_list(struct(col("it"), col("lab"))).as("items"))
      regrouped
        .select(explode(col("items")).as("a"), col("items"))
        .select(col("a"), explode(col("items")).as("b"))
        .filter(col("a.it.id") < col("b.it.id") && col("a.lab") =!= col("b.lab"))
        .filter(estOk(col("a.it.sig"), col("b.it.sig")))
        .select(col("a.it.id").as("id_a"), col("b.it.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
    }
    val edges2 = verifyOnly(crossCand)
    // fold the residue in incrementally: components untouched by round-2
    // edges keep their round-1 labels without re-solving (the
    // clustersIncremental equality contract makes this exact; its internal
    // delta materialization runs the residue subplan once)
    clustersIncremental(lab1, edges2, maxIter, checkpointDir = checkpointDir)
  }

  /**
   * EXACT n-gram Jaccard near-duplicate pairs via prefix filtering (the
   * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08).
   * Unlike [[minhashLshPairs]] this has no probabilistic recall: every pair
   * at Jaccard ≥ `threshold` is emitted — yet it is still never all-pairs.
   * ONE caveat bounds that claim: a pair whose every shared prefix gram
   * falls in an over-`maxBucket` bucket is dropped with the bucket, so
   * exactness holds for the corpus as capped — pass `metrics` to count
   * drops (zero on any corpus whose hot grams stay under the cap), and run
   * exact dedup first to remove the mass that concentrates there.
   *
   * Prefix-filtering lemma: under ANY global total order on grams, two sets
   * with Jaccard ≥ t must share overlap ≥ ceil(t·|g|) for each side, so
   * they must collide within their first |g| − ceil(t·|g|) + 1 grams. Only
   * those prefix grams — ~(1−t)·|g| of them — enter the candidate join.
   * Ordering grams by ascending corpus document frequency (rarest first)
   * makes prefix buckets small by construction: the boilerplate/stopword
   * shingle mass that would explode a naive inverted-index self-join sits
   * outside every prefix, because a doc's prefix holds its RAREST grams.
   *
   * Plan shape (shuffles over the gram stream only, never pair space):
   *   1. one text scan → per-doc SORTED distinct gram hashes (array column);
   *   2. gram → document frequency (map-side-combined aggregate);
   *   3. rarity rank per doc (window over doc id) → prefix grams;
   *   4. bucket-local candidates on prefix grams, pruned IN the bucket by
   *      (a) the length filter t·|a| ≤ |b| ≤ |a|/t and (b) the PPJoin
   *      positional filter: a pair at Jaccard ≥ t needs overlap
   *      α = t/(1+t)·(|a|+|b|), and a shared gram at rarity-ranks (ra, rb)
   *      witnesses overlap at most 1 + min(|a|−ra, |b|−rb) — the smallest
   *      shared gram always passes (every other shared gram outranks it on
   *      both sides), so exactness holds while the duplicate and
   *      low-overlap enumerations die before any shuffle. This is what
   *      keeps a LOW-DIVERSITY corpus (few distinct grams — where "rare"
   *      grams still have high df and buckets go quadratic) from exploding:
   *      measured 1.1B → ~10M candidate rows on a 50k-doc synthetic corpus
   *      with a 3k-gram vocabulary. `maxBucket` still caps true pathologies
   *      (counted via `metrics`, see [[capBuckets]]);
   *   5. exact verification on surviving candidates via sort-merge
   *      intersection of the PRECOMPUTED gram arrays (bit-identical result
   *      to re-shingling, at a fraction of the per-pair cost).
   *
   * 100 TB posture: steps 2–3 shuffle ~|corpus|·|doc| gram rows — the
   * inherent price of EXACT set-similarity (the df statistics are global).
   * When approximate recall is acceptable, [[minhashLshPairs]] ships
   * fixed-size signatures instead and is the cheaper default; this is the
   * exact counterpart for audit passes and threshold calibration.
   *
   * The SHUFFLE verify path additionally runs under the same
   * CANDIDATE-VOLUME GUARD as [[containmentPairs]] (`maxVerifyBytes`,
   * default 16 GiB of estimated candidate+array shuffle): a replica/
   * boilerplate-degenerate corpus defeats prefix filtering, and the
   * shuffled verify then writes candidates × gram-array bytes to disk
   * before any per-pair cap can fire. The exact raw candidate volume
   * (Σ per-bucket n·(n−1)/2) is computed from a ≤ `maxBucket`-row
   * bucket-size histogram before any pair materializes; an over-budget
   * corpus keeps buckets SMALLEST-FIRST up to the size cutoff that fits,
   * with drops observable via `metrics` (guard_total_candidates vs
   * guard_kept_candidates) — capped loudly, never silently. Verify-join
   * sizing is AUTO by default ([[containmentPairs]]' convention —
   * `corpusSizeHint` 0 counts the input, > 0 is a trusted count, < 0
   * forces the shuffle path): when corpus rows × sampled gram bytes fit
   * `broadcastVerifyMaxBytes` the gram sides broadcast, the candidate
   * stream stays map-side, and the guard is skipped — the broadcast
   * path never materializes candidate×array rows.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8, shingle: Int = 5,
                        maxBucket: Int = 10000,
                        metrics: Option[Observation] = None,
                        corpusSizeHint: Long = 0L,
                        broadcastVerifyMaxBytes: Long = 256L << 20,
                        maxVerifyBytes: Long = 16L << 30): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // ONE shingle pass: the gram table feeds FOUR column-pruned consumers
    // (the document-frequency aggregate, the prefix join, and both verify
    // sides ga/gb), each of which would otherwise re-scan the text and
    // re-hash every shingle — the dominant per-row cost of the operator
    // (measured at the sf0.1 gate: 4 shingle_hashes passes → 1, q_dedup_ngram
    // warm 3.6 s → 3.3 s). The materialized table is ~8 B per distinct gram
    // — the same order as the text it replaces — and spills serialized.
    val docGrams = Checkpoints.materialize(
      base.select(col("id"),
        array_sort(SqlFunctions.shingleHashes(col("text"), lit(shingle))).as("grams")),
      None)
    val exploded = docGrams
      .select(col("id"), size(col("grams")).as("sz"), explode(col("grams")).as("gram"))
    val dfreq = exploded.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
    // gram ties broken by hash value: any fixed total order keeps the lemma
    val rarity = Window.partitionBy(col("id")).orderBy(col("gdf").asc, col("gram").asc)
    val prefix = exploded.join(dfreq, "gram")
      .withColumn("rk", row_number().over(rarity))
      // the 1e-9 slack keeps FP noise in t·sz from rounding ceil UP past the
      // mathematical value — that would shorten the prefix and break the
      // exactness guarantee; slack can only lengthen it (always sound)
      .filter(col("rk") <=
        col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)).cast("int") + lit(1))
      .select(col("gram"), col("id"), col("sz"), col("rk"))
    // verify-join sizing, the [[containmentPairs]] convention: hint 0 →
    // AUTO (one cheap count of the input), > 0 → trusted count, < 0 →
    // force the shuffle path (the guard probe's mode)
    val hint = if (corpusSizeHint == 0L) df.count() else corpusSizeHint
    lazy val avgGramBytes = sampledDocGramBytes(df, textCol, shingle)
    val useBroadcastVerify =
      hint > 0 && hint * avgGramBytes <= broadcastVerifyMaxBytes
    // ---- candidate-volume guard (the shuffled-verify emergency brake) ----
    // Same construction as [[containmentPairs]]' guard, adapted to the
    // SYMMETRIC candidate shape: here both sides of a candidate come from
    // the prefix stream, so a gram whose bucket holds n prefix rows emits
    // n·(n−1)/2 raw candidates, and the exact raw volume aggregates BY
    // BUCKET SIZE into a histogram of ≤ maxBucket rows — one tiny collect
    // before any pair materializes. NOTE this counts candidates BEFORE
    // the in-bucket length/positional filters (which the replica corpora
    // the guard exists for pass anyway — same-size docs at rank 1), so on
    // varied-length corpora it is a CONSERVATIVE upper bound: the guard
    // may cap a corpus whose filtered volume would have fit. Over budget
    // (maxVerifyBytes of estimated candidate+array shuffle), buckets are
    // kept SMALLEST-FIRST (rarest-gram spirit: small prefix buckets are
    // the high-precision candidate routes) up to the bucket-size cutoff
    // that fits; drops are observable via `metrics`
    // (guard_total_candidates vs guard_kept_candidates), never silent.
    // Broadcast-verify path skips the guard — it never materializes
    // candidate×array rows.
    // On the shuffle path the prefix stream feeds BOTH the guard histogram
    // and the bucket pass below: materialize it once with TRUNCATED lineage
    // (the blocks outlive this builder, so the pair job itself reads them —
    // the previous cache + immediate non-blocking unpersist raced the job
    // and could re-run the gram scan twice per call). The broadcast path
    // reads the prefix stream exactly once and skips the materialization.
    val (effCap, guardTotalVol, guardKeptVol, prefixM) =
      if (useBroadcastVerify) (maxBucket, 0L, 0L, prefix)
      else {
        val prefixC: DataFrame = Checkpoints.materialize(prefix, None)
        locally {
          val hist = prefixC.groupBy(col("gram")).agg(count(lit(1)).as("np"))
            .filter(col("np").between(2L, maxBucket.toLong))
            .groupBy(col("np"))
            .agg(expr("count(1) * ((np * (np - 1)) div 2)").as("vol"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
          val totalVol = hist.map(_._2).sum
          val budgetPairs =
            math.max(1L, (maxVerifyBytes / (24.0 + 2.0 * avgGramBytes)).toLong)
          if (totalVol <= budgetPairs) (maxBucket, totalVol, totalVol, prefixC)
          else {
            val (eff, kept, floored) = guardEffective(hist, budgetPairs, maxBucket)
            System.err.println(
              f"[ngramJaccardPairs] candidate-volume guard: $totalVol%,d raw candidates × " +
                f"~${(24 + 2 * avgGramBytes).toLong} B ≈ ${totalVol * (24 + 2 * avgGramBytes) / 1e9}%.1f GB " +
                f"exceeds maxVerifyBytes=${maxVerifyBytes / 1048576.0}%.0f MiB; keeping prefix buckets of " +
                f"size ≤ $eff ($kept%,d candidates, ${100.0 * kept / totalVol}%.1f%%). Dropped pairs " +
                "are ones found ONLY via hot prefix grams; dedup exactly first, raise shingle, " +
                "or raise maxVerifyBytes to keep them." +
                (if (floored) " NOTE: even the size-2 buckets alone exceed the budget — the " +
                  "irreducible ≥2 floor keeps them anyway, so the byte budget is a SOFT bound here."
                 else ""))
            (eff, totalVol, kept, prefixC)
          }
        }
      }
    val grouped = prefixM.groupBy(col("gram"))
      .agg(collect_list(struct(col("id"), col("sz"), col("rk"))).as("items"))
    val buckets = capBuckets(grouped, size(col("items")), effCap, metrics,
      extraMetrics = Seq(
        max(lit(guardTotalVol)).as("guard_total_candidates"),
        max(lit(guardKeptVol)).as("guard_kept_candidates"),
        max(lit(effCap)).as("guard_effective_cap")))
    val ratio = threshold / (1.0 + threshold)
    val candidates = buckets
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a.id") < col("b.id"))
      // length filter, FP slack: a borderline pair (t·|b| == |a| exactly,
      // i.e. a ⊆ b at J == t) must not die to product rounding
      .filter(col("b.sz") * lit(threshold) <= col("a.sz") + lit(1e-6) &&
        col("a.sz") * lit(threshold) <= col("b.sz") + lit(1e-6))
      // positional filter (same slack direction: may only keep extra pairs)
      .filter(lit(ratio) * (col("a.sz") + col("b.sz")) - lit(1e-6) <=
        lit(1.0) + least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val ga = docGrams.select(col("id").as("id_a"), col("grams").as("g_a"))
    val gb = docGrams.select(col("id").as("id_b"), col("grams").as("g_b"))
    // On a corpus small enough to broadcast the gram-array table (sized
    // AUTO by default — see `hint` above), the
    // whole verify is MAP-SIDE: the candidate stream never shuffles at all —
    // duplicate enumerations of a pair are re-verified redundantly (a cheap
    // sort-merge intersect each) and collapsed only after the threshold
    // filter, when survivors are tiny. On larger corpora the stream pays one
    // dedup shuffle first so each pair is verified once against shuffled
    // joins. (Measured on a 50k-doc low-diversity corpus: 81 s → map-side
    // path removes the 139M-row dedup + two shuffle joins.)
    // The gate is a BYTE budget per broadcast side (two sides are built):
    // what actually ships is the per-doc gram-hash array (~8 B per distinct
    // gram), so the estimate is corpus rows × sampled avg array bytes — a
    // doc-count cutoff alone would OOM on corpora of long documents.
    val verified =
      if (useBroadcastVerify)
        candidates.join(broadcast(ga), "id_a").join(broadcast(gb), "id_b")
      else
        candidates.dropDuplicates("id_a", "id_b").join(ga, "id_a").join(gb, "id_b")
    verified
      .withColumn("jaccard",
        SqlFunctions.sortedJaccardAtLeast(col("g_a"), col("g_b"), lit(threshold)))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * Exact CONTAINMENT (partial-copy) pairs: (id_a, id_b,
   * containment_permille) for every pair whose shingle sets satisfy
   * 1000·|A∩B| ≥ thresholdPermille·min(|A|,|B|) — the asymmetric
   * complement of [[ngramJaccardPairs]]. Jaccard misses the
   * quote-and-extend case (a 200-gram doc embedded verbatim in a
   * 10,000-gram doc has J ≈ 0.02 but containment 1000‰); curation wants
   * BOTH: Jaccard for mirrors, containment for partial copies /
   * boilerplate-wrapped reposts / train-test contamination by inclusion.
   *
   * Candidate generation is the prefix-filter lemma applied to the
   * SMALLER side only: |A∩B| ≥ need ⇒ the (|S| − need + 1) globally
   * rarest grams of the smaller set S must hit the larger set somewhere,
   * so the smaller side ships a short rare-gram prefix while the larger
   * side is indexed in FULL (containment has no length filter — a tiny
   * doc may be contained in any larger one, which is also why this join
   * is intrinsically heavier than the Jaccard one). Verification is one
   * early-abandon sorted-merge intersect
   * (`sorted_intersect_at_least`) per distinct
   * candidate; everything after the threshold test is integer, so the
   * oracle replays the permille values exactly.
   *
   * Bucket cap + metrics as in [[ngramJaccardPairs]] (`maxBucket` bounds
   * the per-gram index bucket; stopword-like grams are self-limiting
   * because only RARE grams enter prefixes, but the full-side index still
   * needs the cap on degenerate corpora).
   *
   * Worst-case attribution (measured on the sf1 bench corpus; ROUND_NOTES
   * round 8, item 24): a VOCABULARY-DEGENERATE corpus defeats prefix filtering —
   * 50k docs sharing only 2,936 distinct shingles means "rarest grams"
   * still hit thousand-doc buckets, so candidates approach all-pairs
   * (878M deduped candidates for 252k true pairs; the early-abandon
   * verify still runs at ~2 µs/pair, so the operator completes — the
   * cost IS the candidate volume, not the verify). On a Zipf-vocabulary
   * real corpus the rare-gram prefixes block as designed; if your corpus
   * has a tiny shingle vocabulary, raise `shingle` until the shingle
   * space outgrows the corpus before reaching for this operator. Verify-join gating: when the
   * corpus's sampled gram-array bytes fit `broadcastVerifyMaxBytes`, the
   * gram sides broadcast and the candidate stream never shuffles —
   * essential here because a shuffled verify writes candidates ×
   * gram-array-size bytes (a dup-heavy corpus ENOSPC'd a 76 GB disk at
   * 10× replication while the gram table itself was 80 MB). Sizing is
   * auto by default (`corpusSizeHint` 0 counts the input — cheap on a
   * table scan; pass the known count when the input is an expensive
   * subplan, or a negative value to force the shuffle path, which is
   * hinted shuffle_hash so the stream is never SORT-merge-joined).
   *
   * The shuffle path additionally runs under a CANDIDATE-VOLUME GUARD
   * (`maxVerifyBytes`, default 16 GiB of estimated candidate+array
   * shuffle): the exact raw candidate count is computed from a tiny
   * gdf-histogram before any pair materializes, and an over-budget corpus
   * keeps buckets rarest-gram-first up to the gdf cutoff that fits —
   * drops observable via `metrics` (guard_total_candidates vs
   * guard_kept_candidates), never silent. See the inline comment for the
   * exact construction.
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       thresholdPermille: Int = 800, shingle: Int = 5,
                       maxBucket: Int = 10000,
                       corpusSizeHint: Long = 0L,
                       metrics: Option[Observation] = None,
                       broadcastVerifyMaxBytes: Long = 256L << 20,
                       maxVerifyBytes: Long = 16L << 30): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1, 1000], got $thresholdPermille")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // ONE shingle pass for the FIVE column-pruned consumers (df-frequency,
    // prefix, the full-side index, and both verify sides) — the
    // [[ngramJaccardPairs]] materialization, same rationale and measured
    // effect (q_dedup_containment warm 4.6 s → 3.3 s at sf0.1).
    val docGrams = Checkpoints.materialize(
      base.select(col("id"),
        array_sort(SqlFunctions.shingleHashes(col("text"), lit(shingle))).as("grams"))
        .filter(size(col("grams")) > 0),
      None)
    val exploded = docGrams
      .select(col("id"), size(col("grams")).as("sz"), explode(col("grams")).as("gram"))
    val dfreq = exploded.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
    // EVERY gram's rarity rank, materialized once: the prefix (a filter of
    // this table) needs it, and since r13 the FULL-side index carries it
    // too, so the candidate join can apply the PPJoin positional filter on
    // BOTH sides (below) — the same global (gdf, gram) order on both
    // sides is what makes that filter exact. Rank = position in the
    // per-doc (gdf, gram)-sorted gram array (r14): one id-keyed aggregate
    // + tiny in-row sorts replace the row_number window, whose
    // (id, gdf, gram) sort over the full exploded gram table was the
    // exchange-adjacent cost here — same exchanges, no global sort; the
    // (gdf, gram) pair is unique per doc (grams are per-doc distinct), so
    // the order is identical to the window's.
    val ranked = Checkpoints.materialize(
      exploded.join(dfreq, "gram")
        .groupBy(col("id"), col("sz"))
        .agg(sort_array(collect_list(struct(col("gdf"), col("gram")))).as("__gs"))
        .select(col("id"), col("sz"), posexplode(col("__gs")))
        .select(col("col.gram").as("gram"), col("id"), col("sz"),
          (col("pos") + 1).cast("int").as("rk"), col("col.gdf").as("gdf")),
      None)
    // need = ceil(t·sz/1000), all-integer; prefix length sz − need + 1.
    // `gdf` rides along for the volume guard's histogram (grouping by it
    // directly avoids a self-conflicting re-join against dfreq).
    val prefix = ranked
      .filter(col("rk") <=
        col("sz") - expr(s"($thresholdPermille * sz + 999) div 1000") + lit(1))
      .select(col("gram"), col("id").as("id_s"), col("sz").as("sz_s"),
        col("rk").as("rk_s"), col("gdf"))
    // verify-join sizing (shared by the broadcast gate and the volume
    // guard): count the MATERIALIZED gram table (block metadata, no
    // re-scan of the input — r14; empty-gram docs don't ship gram arrays,
    // so they never belonged in the broadcast estimate) + one 256-doc
    // sample
    val hint = if (corpusSizeHint == 0L) docGrams.count() else corpusSizeHint
    val avgGramBytes = sampledDocGramBytes(df, textCol, shingle)
    val useBroadcastVerify =
      hint > 0 && hint * avgGramBytes <= broadcastVerifyMaxBytes
    // ---- candidate-volume guard (the shuffled-verify emergency brake) ----
    // A replica/boilerplate-degenerate corpus defeats prefix filtering and
    // the shuffled verify then writes candidates × gram-array bytes to
    // disk before any per-pair cap can fire (measured: ENOSPC at ~71 GB of
    // spill on a 10×-replicated corpus). The guard computes the EXACT raw
    // candidate volume BEFORE any pair materializes: grams are per-doc
    // DISTINCT, so a gram's full-index bucket size equals its gdf, and
    // volume = Σ_gram gdf × prefixRows(gram) aggregates BY gdf into a
    // histogram of ≤ maxBucket rows — one tiny collect. When the estimated
    // verify bytes (volume × (pair row + two gram arrays)) exceed
    // `maxVerifyBytes`, buckets are kept RAREST-GRAM-FIRST (ascending gdf
    // — the highest-precision candidate routes, the prefix-filter spirit)
    // up to the largest gdf cutoff that fits the budget; everything
    // dropped is counted in the `metrics` observation
    // (guard_dropped_candidates) and logged — capped with observable
    // drops, never silent, same contract as [[capBuckets]]. The guard
    // only runs on the shuffle path: the broadcast path never materializes
    // candidate×array rows, and skipping it keeps the gate/bench plans
    // byte-identical to the unguarded operator.
    // The prefix stream is a cheap filter of the materialized `ranked`
    // table, so the guard histogram and the candidate join read the same
    // checkpoint blocks without a second materialization.
    val (effCap, guardTotalVol, guardKeptVol, prefixM) =
      if (useBroadcastVerify) (maxBucket, 0L, 0L, prefix)
      else {
        val prefixC: DataFrame = prefix
        locally {
          val hist = prefixC
            .filter(col("gdf").between(2L, maxBucket.toLong))
            .groupBy(col("gdf")).agg(count(lit(1)).as("np"))
            .select(col("gdf"), (col("np") * col("gdf")).as("vol"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
          val totalVol = hist.map(_._2).sum
          val budgetPairs =
            math.max(1L, (maxVerifyBytes / (24.0 + 2.0 * avgGramBytes)).toLong)
          if (totalVol <= budgetPairs) (maxBucket, totalVol, totalVol, prefixC)
          else {
            val (eff, kept, floored) = guardEffective(hist, budgetPairs, maxBucket)
            System.err.println(
              f"[containmentPairs] candidate-volume guard: $totalVol%,d raw candidates × " +
                f"~${(24 + 2 * avgGramBytes).toLong} B ≈ ${totalVol * (24 + 2 * avgGramBytes) / 1e9}%.1f GB " +
                f"exceeds maxVerifyBytes=${maxVerifyBytes / 1048576.0}%.0f MiB; keeping buckets with " +
                f"gdf ≤ $eff ($kept%,d candidates, ${100.0 * kept / totalVol}%.1f%%). Dropped pairs " +
                "are ones found ONLY via common grams; raise shingle (vocabulary diversity), " +
                "dedup exactly first, or raise maxVerifyBytes to keep them." +
                (if (floored) " NOTE: even the gdf-2 buckets alone exceed the budget — the " +
                  "irreducible ≥2 floor keeps them anyway, so the byte budget is a SOFT bound here."
                 else ""))
            (eff, totalVol, kept, prefixC)
          }
        }
      }
    // full-side inverted index; size-1 buckets hold only the prefix doc
    // itself (a prefix gram is also a full-index gram), so the ≥2 floor
    // of the shared cap drops nothing pairable
    val grouped = ranked.groupBy(col("gram"))
      .agg(collect_list(struct(col("id"), col("sz"), col("rk"))).as("items"))
    val buckets = capBuckets(grouped, size(col("items")), effCap, metrics,
      extraMetrics = Seq(
        max(lit(guardTotalVol)).as("guard_total_candidates"),
        max(lit(guardKeptVol)).as("guard_kept_candidates"),
        max(lit(effCap)).as("guard_effective_cap")))
    val candidates = buckets.join(prefixM, "gram")
      .select(col("id_s"), col("sz_s"), col("rk_s"), explode(col("items")).as("b"))
      // the smaller side enumerates; equal sizes pair once from each
      // prefix and collapse in the pair dedup
      .filter(col("sz_s") < col("b.sz") ||
        (col("sz_s") === col("b.sz") && col("id_s") =!= col("b.id")))
      // PPJoin positional filter, both sides (all-integer — no FP slack
      // needed): at the pair's FIRST shared gram g* in the global
      // (gdf, gram) order, every shared gram sits at rank ≥ rk(g*) in BOTH
      // docs, so inter ≤ 1 + min(sz_s − rk_s, sz_b − rk_b); a true pair
      // (inter ≥ need) therefore always passes at its g* enumeration —
      // which the prefix lemma puts inside s's prefix — while the
      // common-gram enumerations that dominate a vocabulary-degenerate
      // corpus (a globally common gram sits LATE in both docs' rarity
      // orders) die here instead of flooding the dedup + verify stages.
      // Measured at the 50k-doc sf1 bench corpus: 141.7 M deduped
      // candidates → 1.9 M, q_dedup_containment 51 s → 6.6 s warm.
      .filter(lit(1L) +
        least(col("sz_s") - col("rk_s"), col("b.sz") - col("b.rk")) >=
        expr(s"($thresholdPermille * sz_s + 999) div 1000"))
      .select(least(col("id_s"), col("b.id")).as("id_a"),
        greatest(col("id_s"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val ga = docGrams.select(col("id").as("id_a"), col("grams").as("g_a"))
    val gb = docGrams.select(col("id").as("id_b"), col("grams").as("g_b"))
    // Same verify-join byte budget as [[ngramJaccardPairs]], but sizing is
    // AUTO by default (corpusSizeHint 0 → one cheap count of the input;
    // > 0 → trusted count; < 0 → force the shuffle path): the candidate
    // stream carries a ~KB gram array per pair once joined, so on a
    // dup-heavy corpus the shuffled verify writes candidates × array-size
    // bytes — which is why the shuffle path runs under the volume guard
    // above. Broadcast when it fits; past the budget use shuffle_hash so
    // the stream is at least never SORT-merged (the cosine sf10 lesson).
    val verified =
      if (useBroadcastVerify)
        candidates.join(broadcast(ga), "id_a").join(broadcast(gb), "id_b")
      else
        candidates.join(ga.hint("shuffle_hash"), "id_a")
          .join(gb.hint("shuffle_hash"), "id_b")
    verified
      .withColumn("__min", least(size(col("g_a")), size(col("g_b"))))
      .withColumn("__need",
        expr(s"($thresholdPermille * __min + 999) div 1000").cast("int"))
      .withColumn("__inter",
        SqlFunctions.sortedIntersectAtLeast(col("g_a"), col("g_b"), col("__need")))
      .filter(col("__inter") >= col("__need").cast("long"))
      .select(col("id_a"), col("id_b"),
        expr("(1000 * __inter) div __min").as("containment_permille"))
  }

  /** Sampled average per-doc gram-array bytes (array header + 8 B per
    * distinct gram), from the first `sampleN` docs — the unit for byte-based
    * broadcast gating. One tiny job (limit-scan, no full pass). */
  private def sampledDocGramBytes(df: DataFrame, textCol: String, shingle: Int,
                                  sampleN: Int = 256): Double = {
    val sizes = df.select(col(textCol)).limit(sampleN)
      .select(size(SqlFunctions.shingleHashes(col(textCol), lit(shingle))).as("sz"))
      .collect().map(_.getInt(0))
    if (sizes.isEmpty) 0.0 else sizes.map(_.toDouble * 8 + 48).sum / sizes.length
  }

  /** Sampled (distinct-gram-count lower bound, avg distinct grams per doc)
    * from the first `sampleN` docs — the auto gate for the small-vocabulary
    * bitset path of [[ngramJaccardPairsFused]]. */
  private def sampleGramStats(df: DataFrame, textCol: String, shingle: Int,
                              sampleN: Int = 256): (Int, Double) = {
    val arrs = df.select(col(textCol)).limit(sampleN)
      .select(SqlFunctions.shingleHashes(col(textCol), lit(shingle)).as("g"))
      .collect().map(_.getSeq[Long](0))
    if (arrs.isEmpty) (0, 0.0)
    else {
      val vocab = scala.collection.mutable.HashSet.empty[Long]
      arrs.foreach(a => a.foreach(vocab += _))
      (vocab.size, arrs.map(_.length).sum.toDouble / arrs.length)
    }
  }

  /**
   * Fused-bucket variant of [[ngramJaccardPairs]]: per-doc payloads ride
   * INTO the prefix buckets, and [[org.apache.spark.sql.graft.JaccardBucketPairs]]
   * enumerates + filters + exactly verifies pairs inside each bucket — no
   * candidate row ever exists unverified, so the only post-bucket work is
   * collapsing verified duplicates (one per shared prefix gram; tiny).
   * Same exact output as the flat pipeline; wins when candidates vastly
   * outnumber documents (the low-diversity-corpus regime).
   *
   * Two payload representations, `mode`-selected:
   *
   *  - `"bitset"` — small-vocabulary fast path. When the corpus has at most
   *    `bitsetMaxVocab` distinct grams (the LOW-DIVERSITY regime — exactly
   *    where prefix filtering is weakest and candidate volume explodes), the
   *    (gram → index, df) table is collected once (≤ 64k entries, ~1 MB) and
   *    broadcast. Each doc's gram set becomes a DENSE BITSET (~5× smaller
   *    than the hash array: vocab/8 bytes vs 8 B/gram), the per-doc rarity
   *    ranking is computed MAP-SIDE from the broadcast df table (eliminating
   *    the df-join + per-doc window shuffle of the general path entirely —
   *    the only shuffle left is the bucket groupBy, itself ~5× lighter), and
   *    verification is a popcount loop with word-level early abandon
   *    ([[org.apache.spark.sql.graft.TextOps.bitsetJaccardAtLeast]]).
   *    Identical output: same sets, same Jaccard, different encoding.
   *  - `"array"` — general-vocabulary path: sorted gram-hash arrays as
   *    payload, global df via aggregation + window (scales to unbounded
   *    vocabularies; the index collect above would not).
   *  - `"auto"` (default) — samples ≤256 docs; if the sampled vocabulary
   *    fits comfortably (≤ bitsetMaxVocab/2) it builds the exact index and
   *    uses bitsets (falling back to arrays if the full vocabulary turns
   *    out larger or the bitset would be wider than the average gram
   *    array); otherwise arrays. The sample and index are two small plan-
   *    build-time jobs — at 100 TB the index job is one gram-frequency
   *    aggregation, the price of knowing the corpus is bitmappable.
   *
   * `suffixFilterDepth` > 0 enables the PPJoin+ suffix-filtering probe
   * (Xiao et al. WWW'08 §4) on array payloads: a depth-limited partition
   * probe bounds the overlap before the merge runs. MEASURED OFF by
   * default: on uniformly-hashed gram sets the bound is weak (per-leaf
   * size imbalances are ~sqrt(n) and probe misses at most 2^d − 1, far
   * under the required difference at t=0.8), and sf1 benchmarks showed
   * depth 3 a net +14% over the early-abandon merge alone. It pays only
   * when candidate sets differ in value DISTRIBUTION (clustered/skewed
   * token spaces, the published workloads) — opt in for those.
   *
   * EXACTNESS CAVEAT (both modes, and [[ngramJaccardPairs]] alike): a pair
   * whose every shared prefix gram lands in an over-`maxBucket` bucket is
   * dropped with the bucket — "exact" holds for the UNCAPPED corpus; caps
   * trade completeness on degenerate hot grams for bounded memory. Drops
   * are counted via `metrics` ([[capBuckets]] semantics); the cap itself is
   * enforced INSIDE the aggregation ([[org.apache.spark.sql.graft.CollectBucketCapped]]),
   * so a hot bucket never materializes more than `maxBucket` payloads in
   * any task — run exact dedup first to remove the boilerplate mass that
   * concentrates there.
   */
  def ngramJaccardPairsFused(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double = 0.8, shingle: Int = 5,
                             maxBucket: Int = 10000,
                             metrics: Option[Observation] = None,
                             corpusSizeHint: Long = 0L,
                             broadcastGramsMaxBytes: Long = 256L << 20,
                             mode: String = "auto",
                             bitsetMaxVocab: Int = 1 << 16,
                             suffixFilterDepth: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(Set("auto", "array", "bitset")(mode), s"unknown mode $mode")
    import org.apache.spark.sql.graft.{CollectBucketCapped, JaccardBucketPairs, PrefixBucketRows}
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val docGrams = base.select(col("id"),
      array_sort(SqlFunctions.shingleHashes(col("text"), lit(shingle))).as("grams"))

    // ---- mode resolution (sample → maybe exact index) ----
    val (sampleVocab, sampleAvgSz) =
      if (mode == "array") (0, 0.0) else sampleGramStats(df, textCol, shingle)
    val index: Option[(Array[Long], Array[Long])] =
      if (mode == "bitset" || (mode == "auto" && sampleVocab > 0 && sampleVocab <= bitsetMaxVocab / 2)) {
        // exact (gram, df) index, gram-ascending. The limit is pushed to
        // per-partition top-k, so driver transfer is bounded by
        // (bitsetMaxVocab+1) × output partitions even on a mispredicted
        // huge-vocabulary corpus.
        val rows = docGrams.select(explode(col("grams")).as("gram"))
          .groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
          .orderBy(col("gram")).limit(bitsetMaxVocab + 1)
          .collect()
        if (rows.length > bitsetMaxVocab) {
          if (mode == "bitset") throw new IllegalArgumentException(
            s"mode=bitset but corpus has > $bitsetMaxVocab distinct grams; use mode=array")
          None // auto: sample underestimated — fall back to arrays
        } else if (mode == "auto" && (rows.length + 63) / 64 > sampleAvgSz) {
          None // bitset would be wider than the avg gram array: no win
        } else Some((rows.map(_.getLong(0)), rows.map(_.getLong(1))))
      } else None

    val bucketed = index match {
      case Some((vocab, gdfs)) =>
        // ---- bitset path: map-side prefix + bitset, one shuffle total ----
        val bcast = spark.sparkContext.broadcast((vocab, gdfs))
        val rows = docGrams.select(col("id"),
          c(PrefixBucketRows(e(col("grams")), e(lit(threshold)), bcast)))
        rows.groupBy(col("gram"))
          .agg(c(CollectBucketCapped(e(col("id")), e(col("sz")), e(col("rk")),
            e(col("bits")), maxBucket).toAggregateExpression()).as("bucket"))
      case None =>
        // ---- array path: global df + window ranking (any vocabulary) ----
        import org.apache.spark.sql.expressions.Window
        val exploded = docGrams
          .select(col("id"), size(col("grams")).as("sz"), explode(col("grams")).as("gram"))
        val dfreq = exploded.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
        val rarity = Window.partitionBy(col("id")).orderBy(col("gdf").asc, col("gram").asc)
        val prefix = exploded.join(dfreq, "gram")
          .withColumn("rk", row_number().over(rarity))
          .filter(col("rk") <=
            col("sz") - ceil(col("sz") * lit(threshold) - lit(1e-9)).cast("int") + lit(1))
          .select(col("gram"), col("id"), col("sz"), col("rk"))
        // byte-gated broadcast of the payload side (same budget semantics
        // as [[ngramJaccardPairs]]'s verify broadcast)
        val gramsSide =
          if (corpusSizeHint > 0 &&
              corpusSizeHint * sampledDocGramBytes(df, textCol, shingle) <= broadcastGramsMaxBytes)
            broadcast(docGrams)
          else docGrams
        prefix.join(gramsSide, "id")
          .groupBy(col("gram"))
          .agg(c(CollectBucketCapped(e(col("id")), e(col("sz")), e(col("rk")),
            e(col("grams")), maxBucket).toAggregateExpression()).as("bucket"))
    }

    // over-cap buckets come back with empty items and total > maxBucket;
    // the filter drops them (and singletons), the observe counts them
    val observed = metrics match {
      case Some(obs) => bucketed.observe(obs,
        sum(when(col("bucket.total") > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when(col("bucket.total") > maxBucket, col("bucket.total")).otherwise(0L)).as("dropped_id_slots"),
        max(col("bucket.total")).as("max_bucket_size"))
      case None => bucketed
    }
    observed.filter(col("bucket.total").between(2, maxBucket))
      .select(c(JaccardBucketPairs(e(col("bucket.items")), e(lit(threshold)),
        payloadIsBitset = index.isDefined,
        // suffix filtering pays only on sorted-array payloads (the bitset
        // verify is already cheaper than the probe)
        suffixFilterDepth = if (index.isDefined) 0 else suffixFilterDepth)))
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * SimHash near-duplicate pairs at Hamming distance ≤ 3: pigeonhole over
   * 4 16-bit chunks (≤3 differing bits ⇒ at least one chunk identical), so
   * candidates come from 4 equi-join passes, then exact popcount verify.
   */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingle: Int = 5, maxHamming: Int = 3,
                   maxBucket: Int = 10000,
                   metrics: Option[Observation] = None): DataFrame = {
    require(maxHamming <= 3, "chunked pigeonhole bound holds for maxHamming <= 3")
    // same shape as minhashLshPairs: bucket-local pair generation, one
    // shuffle; maxBucket guards the degenerate chunk (e.g. all-zero upper
    // bits across a homogeneous corpus) from going quadratic; drops are
    // observable via `metrics` (capBuckets), never silent
    val grouped = df
      .select(col(idCol).as("id"), simhash(col(textCol), shingle).as("sh"))
      .select(col("id"), col("sh"), posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xffffL))): _*)))
      .groupBy(col("pos"), col("col"))
      .agg(collect_list(struct(col("id"), col("sh"))).as("items"))
    val buckets = capBuckets(grouped, size(col("items")), maxBucket, metrics)
    buckets
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Near-dup pairs over a PRECOMPUTED 64-bit fingerprint carried as two
   * non-negative 32-bit halves (`h0` bits 0..31, `h1` bits 32..63) — the
   * [[simhashPairs]] machinery with the hashing step factored out, so any
   * modality that fingerprints to 64 bits deduplicates through the same
   * pigeonhole: media perceptual hashes
   * ([[Multimodal.perceptualHashes]]: BMP dHash, WAV frame-energy), or
   * any caller-supplied signature. Banding adapts to the radius:
   * `maxHamming` ≤ 3 cuts the word into 4 16-bit chunks (≤ 3 differing
   * bits ⇒ some chunk identical), 4–7 into 8 8-bit chunks (≤ 7
   * differing bits ⇒ some byte identical — perceptual near-dups of
   * recompressed media commonly land at 4–8 bits, past the 4-chunk
   * bound). Narrower chunks mean hotter buckets (an 8-bit value has 256
   * possible buckets per position vs 65,536), so the wide radius costs
   * more candidates — the usual LSH band-width trade, here picked
   * automatically from the radius. Candidates come from one
   * (group, chunk-pos, chunk-value) bucket pass; exact popcount verify;
   * `groupCol` scopes pairing (e.g. media format — a BMP never pairs
   * with a WAV). Bucket cap + observable-drop metrics as everywhere
   * ([[capBuckets]]), plus the family's CANDIDATE-VOLUME GUARD
   * (`maxCandidateBytes`): the exact raw pair volume is computed from a
   * fingerprint-sized count aggregate before anything explodes, and an
   * over-budget corpus keeps buckets smallest-first with observable
   * drops — the 8-bit bands on a replica-heavy corpus otherwise write a
   * candidate shuffle that can exhaust disk (measured at an sf10
   * probe). The input is fingerprint-sized (id + 16 B), never
   * corpus-sized: at 100 TB of media the heavy bytes stay in the
   * fingerprint scan and this join shuffles ~32 B/doc.
   */
  def hash64Pairs(df: DataFrame, idCol: String, groupCol: String,
                  maxHamming: Int = 3, maxBucket: Int = 10000,
                  metrics: Option[Observation] = None,
                  maxCandidateBytes: Long = 16L << 30,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "chunked pigeonhole bound holds for maxHamming <= 7 (8 8-bit chunks)")
    val chunks = hash64Chunks(col("h0"), col("h1"), maxHamming)
    // materialized ONCE (fingerprint-sized: ~48 B × bands per item): both
    // the guard histogram below AND the bucket pass read it, and the
    // upstream is typically a full media decode+hash scan — an uncached
    // `keyed` would re-decode the corpus bytes twice per call. Truncated
    // lineage (not .cache) so the blocks outlive this builder and the
    // pair job itself reads them, not the decode.
    val keyed = Checkpoints.materialize(df
      .select(col(idCol).as("id"), col(groupCol).as("grp"),
        col("h0").cast("long"), col("h1").cast("long"))
      .select(col("id"), col("grp"), col("h0"), col("h1"),
        posexplode(array(chunks: _*))), checkpointDir)
    // ---- candidate-volume guard (the family contract) ----
    // 8-bit bands make buckets ~n/256 per (group, position, value): on a
    // replica-heavy corpus the in-bucket quadratic then writes a
    // candidate shuffle that can exhaust disk (measured: an sf10 probe
    // of the hamming-7 pair table ENOSPC'd). Bucket sizes are knowable
    // from one fingerprint-sized count aggregate BEFORE anything
    // explodes, so the exact raw candidate volume (Σ n·(n−1)/2 by bucket
    // size, ≤ maxBucket histogram rows) gates the run: over
    // `maxCandidateBytes`, buckets are kept SMALLEST-FIRST up to the
    // size cutoff that fits, drops observable via `metrics` + stderr —
    // the ngramJaccardPairs/containment guard on the fingerprint shape.
    val (effCap, guardTotalVol, guardKeptVol) = {
      val hist = keyed.groupBy(col("grp"), col("pos"), col("col"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n").between(2L, maxBucket.toLong))
        .groupBy(col("n"))
        .agg(expr("count(1) * ((n * (n - 1)) div 2)").as("vol"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val totalVol = hist.map(_._2).sum
      val budgetPairs = math.max(1L, maxCandidateBytes / 48L)
      if (totalVol <= budgetPairs) (maxBucket, totalVol, totalVol)
      else {
        val (eff, kept, floored) = guardEffective(hist, budgetPairs, maxBucket)
        System.err.println(
          f"[hash64Pairs] candidate-volume guard: $totalVol%,d raw candidates ≈ " +
            f"${totalVol * 48 / 1e9}%.1f GB exceeds maxCandidateBytes=" +
            f"${maxCandidateBytes / 1048576.0}%.0f MiB; keeping buckets of size ≤ $eff " +
            f"($kept%,d candidates, ${100.0 * kept / totalVol}%.1f%%). Dedup exact-duplicate " +
            "fingerprints first (hash64KeepList collapses them), lower maxHamming, or " +
            "raise maxCandidateBytes to keep the dropped routes." +
            (if (floored) " NOTE: even the size-2 buckets alone exceed the budget — the " +
              "irreducible ≥2 floor keeps them anyway, so the byte budget is a SOFT bound here."
             else ""))
        (eff, totalVol, kept)
      }
    }
    // quadratic-OUTPUT advisory, independent of the byte budget: identical
    // fingerprints (hamming 0) always verify, so equal-(grp,h0,h1) groups
    // alone give a PROVEN lower bound on the emitted pair count — when that
    // bound already exceeds ~10× the item count, this pair TABLE is
    // quadratic in the corpus' replication factor by construction (the
    // sf10 probe measured 100× pairs for 10× data) and the linear
    // [[hash64KeepList]] is what a dedup consumer should be calling.
    {
      val eq = keyed.filter(col("pos") === 0)
        .groupBy(col("grp"), col("h0"), col("h1")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)),
          coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L))).head()
      val (items, eqPairs) = (eq.getLong(0), eq.getLong(1))
      if (eqPairs > 10L * items)
        System.err.println(
          f"[hash64Pairs] output advisory: identical-fingerprint groups alone prove " +
            f"≥ $eqPairs%,d true pairs for $items%,d items (> 10× — the pair table is " +
            "quadratic in the replication factor). For keep-one-copy dedup semantics " +
            "use hash64KeepList, which collapses equal fingerprints and emits ONE row " +
            "per item.")
    }
    val grouped = keyed
      .groupBy(col("grp"), col("pos"), col("col"))
      .agg(collect_list(struct(col("id"), col("h0"), col("h1"))).as("items"))
    val buckets = capBuckets(grouped, size(col("items")), effCap, metrics,
      extraMetrics = Seq(
        max(lit(guardTotalVol)).as("guard_total_candidates"),
        max(lit(guardKeptVol)).as("guard_kept_candidates"),
        max(lit(effCap.toLong)).as("guard_effective_cap")))
    buckets
      .select(col("grp"), explode(col("items")).as("a"), col("items"))
      .select(col("grp"), col("a"), explode(col("items")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("grp").as(groupCol),
        (bit_count(col("a.h0").bitwiseXOR(col("b.h0"))) +
          bit_count(col("a.h1").bitwiseXOR(col("b.h1"))))
          .cast("long").as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** The pigeonhole band chunks of a 64-bit fingerprint carried as two
    * non-negative 32-bit halves: d differing bits over c chunks leave a
    * chunk intact whenever d < c — 4×16-bit up to hamming 3, 8×8-bit up
    * to 7. Array position is the band index; an index and its probes
    * must agree on the radius family. */
  private[graft] def hash64Chunks(h0: Column, h1: Column, maxHamming: Int): Seq[Column] =
    if (maxHamming <= 3)
      Seq(h0, h1).flatMap(h => Seq(0, 16).map(sh =>
        shiftrightunsigned(h, sh).bitwiseAND(lit(0xffffL))))
    else
      Seq(h0, h1).flatMap(h => (0 until 4).map(i =>
        shiftrightunsigned(h, i * 8).bitwiseAND(lit(0xffL))))

  /**
   * Persist the corpus 64-bit-fingerprint index: one row per
   * (grp, pos, val, id, h0, h1) band entry, range-partitioned and
   * sorted by chunk VALUE so parquet row-group min/max statistics prune
   * value-equality probes — the [[writeMinhashIndex]] artifact for the
   * fingerprint modality. A 100 TB media lake is fingerprinted once
   * ([[Multimodal.perceptualHashes]] — the heavy bytes never leave that
   * scan) and every arriving batch probes 16-bit keys instead of
   * re-reading media (see [[hash64AgainstIndex]]). Banding follows
   * `maxHamming` exactly as [[hash64Pairs]] (4×16-bit ≤ 3, 8×8-bit
   * 4–7); an index and its probes must agree on the radius family.
   */
  def writeHash64Index(hashes: DataFrame, path: String,
                       idCol: String = "media_id",
                       groupCol: String = "format",
                       maxHamming: Int = 3, numPartitions: Int = 8): Unit = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "chunked pigeonhole bound holds for maxHamming <= 7")
    hashes
      .select(col(idCol).as("id"), col(groupCol).as("grp"),
        col("h0").cast("long"), col("h1").cast("long"))
      .select(col("id"), col("grp"), col("h0"), col("h1"),
        posexplode(array(hash64Chunks(col("h0"), col("h1"), maxHamming): _*)))
      .withColumnRenamed("col", "val")
      .repartitionByRange(numPartitions, col("val"))
      .sortWithinPartitions(col("val"), col("grp"), col("pos"))
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Near-duplicate pairs between an ARRIVING BATCH of fingerprints and
   * the corpus behind a persisted [[writeHash64Index]] index — the
   * incremental form of [[hash64Pairs]] (the [[dedupAgainstIndex]]
   * pattern on the fingerprint modality): the corpus is never
   * re-fingerprinted; the batch's band keys probe the index via an
   * equi-join on (grp, pos, val), with ≤ `maxPushdownKeys` distinct
   * chunk values additionally pushed as a static `isin` predicate that
   * the sorted-by-value layout turns into row-group pruning. Exact
   * popcount verify; emits (new_id, corpus_id, hamming) with hamming ≤
   * `maxHamming`, deduped across bands. Batch and corpus ids are
   * assumed disjoint (the incremental premise — same as
   * [[dedupAgainstIndex]]).
   */
  def hash64AgainstIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, batch: DataFrame,
                         idCol: String = "media_id",
                         groupCol: String = "format",
                         maxHamming: Int = 3,
                         maxPushdownKeys: Int = 8192): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "chunked pigeonhole bound holds for maxHamming <= 7")
    val index = spark.read.parquet(indexPath)
    val bchunks = batch
      .select(col(idCol).as("new_id"), col(groupCol).as("grp"),
        col("h0").cast("long").as("nh0"), col("h1").cast("long").as("nh1"))
      .select(col("new_id"), col("grp"), col("nh0"), col("nh1"),
        posexplode(array(hash64Chunks(col("nh0"), col("nh1"), maxHamming): _*)))
      .withColumnRenamed("col", "val")
    // bounded collect (≤ maxPushdownKeys + 1 rows) decides whether the
    // batch's chunk values become a static row-group-pruning predicate
    val keySample = bchunks.select(col("val")).distinct()
      .limit(maxPushdownKeys + 1).collect().map(_.getLong(0))
    val pruned =
      if (keySample.length <= maxPushdownKeys)
        index.filter(col("val").isin(keySample: _*))
      else index
    bchunks.join(pruned, Seq("grp", "pos", "val"))
      .select(col("new_id"), col("id").as("corpus_id"),
        (bit_count(col("nh0").bitwiseXOR(col("h0"))) +
          bit_count(col("nh1").bitwiseXOR(col("h1"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("new_id", "corpus_id")
  }

  /** Unique suffix for Observation names so concurrent clusters() calls in
    * one SparkSession never register duplicate CollectMetrics names. */
  private val obsCounter = new java.util.concurrent.atomic.AtomicLong()

  /**
   * Connected components over near-dup pairs → (id, cluster) where cluster
   * is the minimum id reachable through the pair graph: the "pick one
   * representative per duplicate cluster" step that turns pairs into an
   * actionable drop-list.
   *
   * Algorithm: min-label propagation with pointer doubling. Rounds take
   * the min over (own label, neighbors' labels) — one edge-list shuffle,
   * which on the shallow components that dominate real near-dup graphs
   * converges in 2-3 rounds. On modest edge lists (≤ `doublingEagerEdges`,
   * where rounds cost scheduling floor, not data) every round from the
   * first also follows its label's label (pointer doubling) to cut round
   * count; on larger graphs doubling engages only when the observed
   * changed-count stops halving round-over-round (deep-chain signature)
   * or from round 3 — so a drift-chain of near-dups thousands long still
   * resolves in O(log diameter) rounds without paying the doubling
   * self-join's extra shuffle where propagation alone converges. Each iteration
   * shuffles the EDGE list and the label table only — never the corpus.
   * The convergence check rides the label-update job itself
   * (`Dataset.observe` counts changed labels while the cache
   * materializes), so each round is exactly ONE action and no extra probe
   * join. A pair list of at most `driverMaxEdges` rows (default
   * [[DriverPath.DriverMaxEdges]]; 0 sends any non-empty list to the
   * loop) is labeled on the driver by union-find instead, with the same
   * labels.
   *
   * Throws if `maxIter` rounds pass without convergence (returning
   * unconverged labels would silently split true clusters).
   */
  def clusters(pairs: DataFrame, maxIter: Int = 12,
               driverMaxEdges: Long = DriverPath.DriverMaxEdges,
               doublingEagerEdges: Long = 50000000L,
               checkpointDir: Option[String] = None): DataFrame = {
    // cache the directed pairs FIRST: the union below references the pairs
    // plan twice, and without this the (possibly expensive — e.g. a full
    // LSH pipeline) upstream would execute once per branch
    val directed = pairs.select(col("id_a").cast("long"), col("id_b").cast("long")).cache()
    // a pair list of at most driverMaxEdges rows is labeled on the driver
    // by union-find ([[DriverPath]]): the same min-id labeling, without
    // the per-round jobs of the distributed loop below
    val nDirected = DriverPath.collectUnder(directed, driverMaxEdges) match {
      case Right(cols) =>
        DriverPath.release(directed)
        return DriverPath.frame(pairs.sparkSession, Seq("id", "cluster"),
          DriverPath.unionFindLabels(cols(0), cols(1)))
      case Left(n) => n
    }
    // size-adaptive parallelism: the edge list is orders of magnitude
    // smaller than the corpus (it only holds near-dup PAIRS), so at bench
    // scale the session's shuffle-partition count means ~1k-row tasks of
    // pure scheduling overhead per round. Aim for ~250k edges/partition,
    // floor 4; a 100 TB corpus with billions of pairs still gets thousands.
    val parts = math.max(4, math.min(
      pairs.sparkSession.sessionState.conf.numShufflePartitions,
      (2 * nDirected / 250000 + 1).toInt))
    val edges = directed
      // undirected: both directions; hash-partitioned on src so every
      // round's edges-labels join reuses this layout and shuffles only the
      // (equally small) label table
      .union(directed.select(col("id_b").cast("long").as("id_a"), col("id_a").cast("long").as("id_b")))
      .toDF("src", "dst").repartition(parts, col("src")).cache()
    val callId = obsCounter.getAndIncrement()
    // round 0 fused into label init: identity labels make the first
    // propagation min(id, min neighbor), which is ONE aggregation over the
    // edge list — no distinct, no join
    val obs0 = new Observation(s"cc_${callId}_changed_init")
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("cluster"))
      .observe(obs0, sum(when(col("cluster") < col("id"), 1L).otherwise(0L)).as("changed"))
      .cache()
    labels.count()
    var converged = false
    var iter = 1
    var lastChanged = Option(obs0.get("changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
    var prevChanged = -1L  // the round before that
    while (!converged && iter < maxIter) {
      // 1. min label among neighbors (one shuffle over edges), folded into
      //    each node's own label; labels only ever decrease
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("cluster")).as("nmin"))
      val stepped = labels
        .join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("c1"))
      // doubling policy: on a modest edge list (≤ doublingEagerEdges) every
      // round is scheduling-floor-bound, so halving round count beats
      // avoiding the self-join — double from round 1. On genuinely large
      // graphs each round's data cost is real, so escalate only when
      // propagation stops shrinking the changed count geometrically
      // (deep-chain signature), or from round 3 on.
      val doubling = nDirected <= doublingEagerEdges || iter >= 3 ||
        (prevChanged > 0 && lastChanged * 2 > prevChanged)
      val obs = new Observation(s"cc_${callId}_changed_$iter")
      val next = Checkpoints.materialize((if (doubling) {
        // 2. path compression: follow my label's label (labels are node
        //    ids, so the mapping is stepped itself) — pointer doubling.
        //    Uncached self-join: both sides recompute the (cheap) step
        //    projection, but it stays one job and skips a cache
        //    materialization per round.
        val byId = stepped.select(col("id").as("cid"), col("c1").as("cc"))
        stepped
          .join(byId, stepped("c1") === byId("cid"), "left_outer")
          .select(col("id"), col("old"),
            least(col("c1"), coalesce(col("cc"), col("c1"))).as("cluster"))
      } else {
        stepped.select(col("id"), col("old"), col("c1").as("cluster"))
      })
        .observe(obs, sum(when(col("cluster") < col("old"), 1L).otherwise(0L)).as("changed"))
        .select(col("id"), col("cluster")),
        // eager checkpoint, NOT cache: caching truncates re-execution but
        // the LOGICAL plan keeps the full round lineage, and the doubling
        // self-join references the previous round twice — plan size
        // doubles per round, so by round ~10 the optimizer/explain string
        // alone OOMs the driver (observed on a 3000-node chain). The
        // eager checkpoint materializes the same data AND truncates
        // the plan to the stored partitions, keeping every round's plan
        // constant-size; the checkpoint's own job feeds the observation.
        // checkpointDir opts into the fault-tolerant rung (Checkpoints).
        checkpointDir)
      labels.unpersist()
      labels = next
      val changed = Option(obs.get("changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
      converged = changed == 0L
      prevChanged = lastChanged
      lastChanged = changed
      iter += 1
    }
    edges.unpersist()
    directed.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"clusters() did not converge in $maxIter rounds — with pointer " +
          s"doubling that needs component diameter > ~2^$maxIter; raise maxIter")
    labels
  }

  /**
   * Incremental cluster maintenance — the labeling counterpart of
   * [[dedupAgainstIndex]]'s incremental pair finding: given a PERSISTED
   * labeling (`id`, `cluster` — [[clusters]] output) and a batch of newly
   * discovered near-dup pairs, produce the labeling of the union WITHOUT
   * re-clustering the whole corpus. Only components the new pairs TOUCH
   * are re-solved: the affected clusters' full membership re-enters as
   * (member → representative) star edges alongside the new pairs, and
   * every untouched component keeps its stored labels verbatim.
   *
   * Result equals `clusters(oldPairs ∪ newPairs)` EXACTLY (min-id labels;
   * gate-pinned against the full-recompute oracle): an affected
   * component's full membership is present in the re-solve, so its new
   * min label is the true min over every merged component, and untouched
   * components' min-id labels cannot change.
   *
   * Scale shape: the labels table is scanned twice (touched-cluster
   * lookup + untouched anti-join), both hash joins on bounded key sets;
   * the re-solve runs on |new pairs| + Σ |affected clusters| edges — at
   * lake cadence that is the arriving batch's neighborhood, not the
   * corpus. Labels of merged components are REWRITTEN (min-id can move);
   * treat cluster ids as stable only while their component is untouched.
   */
  /**
   * Canonical-representative selection over a near-dup clustering: for
   * every clustered document, name the cluster's KEEPER — the member with
   * the best `scoreCol` (ties to the smallest id) — and flag whether this
   * row is it. The step between pair discovery and corpus shrinkage in
   * every production dedup chain (Gopher/RefinedWeb keep one page per
   * near-dup cluster; "best" is usually longest text or highest quality
   * score): `filter(is_keeper = 0)` is the drop list, anti-joinable
   * against the corpus.
   *
   * Determinism: keeper = argmax under the TOTAL order (score desc, id
   * asc) — a pure function of (labels, scores), so the selection replays
   * in any engine and is stable across reruns/partitionings. Null scores
   * rank LAST (a null-scored doc only keeps a cluster whose every member
   * is null-scored; then min id).
   *
   * Scale shape: `labels` is pair-population-sized (near-dup members
   * only — a vanishing fraction of any curated corpus), so the score
   * join touches |labels| rows of (id, score) — never text — and the
   * keeper window partitions by cluster over that same bounded table;
   * the corpus itself is scanned once for scores and never shuffled.
   */
  def clusterCanonical(labels: DataFrame, docs: DataFrame,
                       idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = docs.select(col(idCol).cast("long").as("id"),
      col(scoreCol).cast("long").as("__score"))
    val j = labels.select(col("id").cast("long").as("id"), col("cluster"))
      .join(scores, Seq("id"), "left")
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__score").desc_nulls_last, col("id").asc)
    // first id under the total order, frame pinned to the partition head:
    // every member row sees the keeper without a second shuffle
    j.withColumn("keeper", first(col("id")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("is_keeper", when(col("id") === col("keeper"), 1L).otherwise(0L))
      .select(col("id"), col("cluster"), col("keeper"), col("is_keeper"))
  }

  /**
   * LINEAR keep-list from a near-dup pair table: ONE row per corpus item
   * — (id, cluster, keeper, is_keeper) — instead of a pair table that is
   * QUADRATIC in the replication factor (10× replicated media = 100×
   * pairs; measured 16.9 M pair rows at an sf10 probe where the corpus
   * holds ~0.5 M items). This is the keep-one-per-cluster semantics the
   * reference applies at ingest (hbase-gis AbstractTestUtil.java:50-81
   * drops exact repeats before load): [[clusters]] labels the pair
   * graph's components, [[clusterCanonical]] names each component's
   * keeper by (scoreCol desc, id asc), and every item OUTSIDE the pair
   * graph keeps itself (cluster = keeper = its own id — a singleton's id
   * can never collide with a component label, which is always the min
   * MEMBER id of a ≥2-item component). `filter(is_keeper = 0)` is the
   * exact drop list.
   *
   * Scale shape: the cluster/keeper machinery runs on the
   * pair-population-sized tables only; `items` is scanned once for
   * (id, score) and joined once on id (AQE broadcasts the labels side
   * when the near-dup population is small). Output is |items| rows —
   * linear by construction at any replication factor.
   */
  def clusterKeepList(pairs: DataFrame, items: DataFrame,
                      idCol: String, scoreCol: String,
                      maxIter: Int = 12): DataFrame =
    keepListFromLabels(clusters(pairs, maxIter), items, idCol, scoreCol)

  /**
   * Incremental keep-list refresh — the lake-cadence form: given the
   * PERSISTED labeling of the corpus so far ([[clusters]] output) and
   * the near-dup pairs a newly arrived batch contributed
   * (batch-internal + batch-vs-corpus, e.g. from [[dedupAgainstIndex]]),
   * produce the keep-list of the union WITHOUT re-clustering the whole
   * corpus: only components the new pairs touch re-solve
   * ([[clustersIncremental]]), then the keeper window and singleton
   * restore run as in [[clusterKeepList]]. Equals the from-scratch
   * keep-list over the union EXACTLY (the clustersIncremental equality
   * contract; keeper selection is a pure function of labels + scores).
   * Note keepers can move when components merge — downstream consumers
   * treat is_keeper as current-snapshot truth, not an append-only log.
   */
  def clusterKeepListIncremental(labels: DataFrame, newPairs: DataFrame,
                                 items: DataFrame, idCol: String,
                                 scoreCol: String,
                                 maxIter: Int = 12): DataFrame =
    keepListFromLabels(clustersIncremental(labels, newPairs, maxIter),
      items, idCol, scoreCol)

  /** The shared keep-list tail: component labels → keeper per cluster →
    * singleton restore (one row per item). */
  def keepListFromLabels(labels: DataFrame, items: DataFrame,
                         idCol: String, scoreCol: String): DataFrame = {
    val canon = clusterCanonical(labels, items, idCol, scoreCol)
      .withColumnRenamed("id", "__cid")
    items.select(col(idCol).cast("long").as("id"))
      .join(canon, col("id") === col("__cid"), "left")
      .select(col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"),
        coalesce(col("keeper"), col("id")).as("keeper"),
        coalesce(col("is_keeper"), lit(1L)).as("is_keeper"))
  }

  /**
   * [[clusterKeepList]] specialized to 64-bit-fingerprint inputs, with
   * the EQUAL-FINGERPRINT COLLAPSE: items sharing an identical
   * (group, h0, h1) are GRAPH-EQUIVALENT in the hamming pair graph —
   * mutually adjacent (hamming 0) and with identical adjacency to every
   * other item — so only one representative per distinct fingerprint
   * (the MIN member id, so component min-labels carry over exactly)
   * enters the banded pair join, and members inherit their
   * representative's component. Output is IDENTICAL to
   * `clusterKeepList(hash64Pairs(hashes), items)` (differential-tested)
   * while the quadratic in-bucket term shrinks from items² to DISTINCT
   * FINGERPRINTS² per bucket — on an exact-duplicate-heavy media corpus
   * (the re-hosted-file case that dominates web crawls) the pair stage
   * cost drops by the replication factor squared.
   *
   * A multi-member fingerprint group is a ≥2 component even when its
   * representative pairs with nothing else, so such members label to the
   * representative regardless of the rep-level graph.
   */
  def hash64KeepList(hashes: DataFrame, idCol: String, groupCol: String,
                     items: DataFrame, itemIdCol: String, scoreCol: String,
                     maxHamming: Int = 3, maxBucket: Int = 10000,
                     metrics: Option[Observation] = None,
                     maxIter: Int = 12,
                     checkpointDir: Option[String] = None): DataFrame = {
    // materialize the fingerprints ONCE (32 B/item): the plan below
    // references them four times (group collapse, rep pairing + its
    // volume-guard histogram, membership join), and the upstream is
    // typically a full media decode+hash scan — without this the corpus
    // bytes are re-hashed per reference (measured 3× the whole keep-list
    // cost at sf1)
    // null FINGERPRINTS stay out of the collapse entirely: hash64Pairs
    // never pairs them (a null chunk XOR is null, so the hamming filter
    // drops every such candidate), so on the uncollapsed path they are
    // singletons — grouping them here would instead cluster all
    // null-fingerprint items together and break the equality contract.
    // The keep-list singleton restore names them their own keeper.
    val fp = Checkpoints.materialize(
      hashes.select(col(idCol).cast("long").as("id"),
        col(groupCol).as("grp"), col("h0").cast("long"), col("h1").cast("long"))
        .filter(col("h0").isNotNull && col("h1").isNotNull),
      checkpointDir)
    val groups = Checkpoints.materialize(
      fp.groupBy(col("grp"), col("h0"), col("h1"))
        .agg(min(col("id")).as("rep"), count(lit(1)).as("sz")),
      checkpointDir)
    val reps = groups.select(col("rep").as("id"), col("grp"),
      col("h0"), col("h1"))
    val repPairs = hash64Pairs(reps, "id", "grp", maxHamming, maxBucket, metrics)
    val repLabels = clusters(repPairs.select(col("id_a"), col("id_b")), maxIter)
      .withColumnRenamed("id", "__rid").withColumnRenamed("cluster", "__rc")
    // member labels: rep's component label when the rep is clustered;
    // otherwise the rep itself for multi-member (clique) groups. Items in
    // singleton groups with unclustered reps stay out — the keep-list
    // singleton restore names them their own keeper. The grp key joins
    // NULL-SAFELY: hash64Pairs' groupBy pairs null-group fingerprints
    // with each other, so a plain equi-join here would silently degrade
    // null-group items to singletons and diverge from the uncollapsed path.
    val g2 = groups.withColumnRenamed("grp", "__ggrp")
      .withColumnRenamed("h0", "__gh0").withColumnRenamed("h1", "__gh1")
    val labels = fp.join(g2, col("grp") <=> col("__ggrp") &&
        col("h0") === col("__gh0") && col("h1") === col("__gh1"))
      .join(repLabels, col("rep") === col("__rid"), "left")
      .filter(col("sz") >= 2 || col("__rc").isNotNull)
      .select(col("id"), coalesce(col("__rc"), col("rep")).as("cluster"))
    keepListFromLabels(labels, items, itemIdCol, scoreCol)
  }

  /**
   * [[clusterKeepList]] on TEXT with the EXACT-DUPLICATE COLLAPSE — the
   * text twin of [[hash64KeepList]]'s fingerprint collapse, and the
   * "exact dedup first" guidance made structural: documents with
   * byte-identical text are graph-equivalent under ANY text-similarity
   * pair predicate (identical shingle sets ⇒ identical Jaccard to every
   * other doc, and J = 1 ≥ threshold between themselves — LSH recall is
   * certain for identical signatures), so only one representative per
   * distinct text (min member id — component min-labels carry over)
   * enters the MinHash-LSH pipeline, and copies inherit its component.
   * Output IDENTICAL to `clusterKeepList(minhashLshPairs(docs), docs)`
   * (differential-tested); on a verbatim-copy-heavy crawl the quadratic
   * in-bucket term shrinks by the copy factor squared and the signature
   * pass (the dominant cost of corpus dedup) runs once per DISTINCT
   * text. Null-text docs are singletons (they pair with nothing on the
   * uncollapsed path either). The collapse AUTO-GATES on the measured
   * copy factor (`collapseMinFactor`): an all-distinct corpus skips
   * straight to the uncollapsed plan, whose signatures compute at the
   * scan with zero text shuffle — the collapse's rep join would move
   * distinct-text bytes for nothing there.
   *
   * Both branches label through [[minhashLshLabels]] — the
   * connectivity-sufficient two-round pairing — NOT the full pair table:
   * NEAR-duplicate replicas (tag-prefixed re-hosts, boilerplate variants
   * — not byte-identical, so the md5 collapse cannot touch them) form
   * r-cliques whose r(r−1)/2 pairs the pair op must enumerate but a
   * labeling never needed; the chain round connects each such clique
   * with r−1 verifications. Output stays exactly
   * `clusterKeepList(minhashLshPairs(docs), docs)` (the
   * [[minhashLshLabels]] exactness argument; differential-tested).
   */
  def textKeepList(docs: DataFrame, idCol: String, textCol: String,
                   scoreCol: String,
                   numHashes: Int = 64, bands: Int = 16, shingle: Int = 5,
                   threshold: Double = 0.8, maxBucket: Int = 1000,
                   metrics: Option[Observation] = None, maxIter: Int = 12,
                   checkpointDir: Option[String] = None,
                   collapseMinFactor: Double = 1.2): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text")).filter(col("text").isNotNull)
    // 16-byte digests collapse the copies; text itself stays in place
    val groups = Checkpoints.materialize(
      base.select(col("id"), md5(col("text")).as("dg"))
        .groupBy(col("dg"))
        .agg(min(col("id")).as("rep"), count(lit(1)).as("sz")),
      checkpointDir)
    // the collapse trades repeated signatures for one (id, text) join of
    // the DISTINCT texts — on an all-distinct corpus that join shuffles
    // ~the whole corpus text for nothing, while the uncollapsed path
    // computes every signature at the scan and shuffles no text at all.
    // The digest stats are already materialized, so the copy factor is a
    // free read: collapse only when it pays.
    // coalesce: an empty / all-null-text corpus yields a null sum — the
    // keep-list is then all singletons, not an NPE
    val stats = groups.agg(coalesce(sum(col("sz")), lit(0L)), count(lit(1))).head()
    val copyFactor = stats.getLong(0).toDouble / math.max(1L, stats.getLong(1))
    if (copyFactor < collapseMinFactor)
      return keepListFromLabels(
        minhashLshLabels(base, "id", "text", numHashes, bands,
          shingle, threshold, maxBucket, metrics, maxIter, checkpointDir),
        docs, idCol, scoreCol)
    val repDocs = base.join(groups.select(col("rep")),
      base("id") === col("rep")).select(col("id"), col("text"))
    val repLabels = minhashLshLabels(repDocs, "id", "text", numHashes, bands,
        shingle, threshold, maxBucket, metrics, maxIter, checkpointDir)
      .withColumnRenamed("id", "__rid").withColumnRenamed("cluster", "__rc")
    val labels = base.select(col("id"), md5(col("text")).as("dg"))
      .join(groups, Seq("dg"))
      .join(repLabels, col("rep") === col("__rid"), "left")
      .filter(col("sz") >= 2 || col("__rc").isNotNull)
      .select(col("id"), coalesce(col("__rc"), col("rep")).as("cluster"))
    keepListFromLabels(labels, docs, idCol, scoreCol)
  }

  def clustersIncremental(labels: DataFrame, newPairs: DataFrame,
                          maxIter: Int = 12,
                          driverMaxEdges: Long = DriverPath.DriverMaxEdges,
                          doublingEagerEdges: Long = 50000000L,
                          checkpointDir: Option[String] = None): DataFrame = {
    // materialize the delta ONCE: this plan is referenced three times
    // below (both touched-endpoint unions and the star-edge union), and
    // the upstream is typically a full pair pipeline — uncached it would
    // re-run per reference (measured ~4× on the keep-list gates)
    val pairs = Checkpoints.materialize(newPairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull),
      checkpointDir)
    val lab = labels.select(col("id").cast("long").as("id"),
      col("cluster").cast("long").as("cluster"))
    // empty delta: the union below would reduce to `lab` anyway — skip its
    // half-dozen jobs (the count is free on the materialized delta)
    if (pairs.isEmpty) return lab
    val touched = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    // clusters containing any endpoint of a new pair; materialized once —
    // it gates BOTH the re-solve membership and the untouched anti-join.
    // Renamed rather than joined on the shared name: when `labels` itself
    // arrives materialized (a LogicalRDD), `aff`'s checkpoint captures
    // lab's `cluster` exprId and the self-shaped join can fail analysis
    // with conflicting references (seen under the AQE-off parity suite) —
    // the rename projects a fresh attribute on the small side
    val aff = Checkpoints.materialize(
      lab.join(touched, "id").select(col("cluster")).distinct(),
      checkpointDir).withColumnRenamed("cluster", "__aff_cluster")
    val affMembers = lab.join(aff, col("cluster") === col("__aff_cluster"))
      .select(col("id"), col("cluster"))
    // star edges (member → representative) reconnect each affected
    // cluster (the rep is its min member id, so it IS a node); new ids
    // enter through the pairs themselves
    val edges = pairs.unionByName(
      affMembers.select(col("id").as("id_a"), col("cluster").as("id_b")))
    val relabeled = clusters(edges, maxIter, driverMaxEdges,
      doublingEagerEdges, checkpointDir)
    lab.join(aff, col("cluster") === col("__aff_cluster"), "left_anti")
      .select(col("id"), col("cluster"))
      .unionByName(relabeled)
  }

  /**
   * (bands, planesPerBand) for sign-hyperplane LSH hitting `targetRecall`
   * at cosine `threshold`. A pair at angle θ agrees with one random
   * hyperplane w.p. 1-θ/π; a band of r planes matches w.p. (1-θ/π)^r; b
   * OR'd bands give recall 1-(1-(1-θ/π)^r)^b.
   *
   * r (band width) comes from TWO lower bounds: the threshold bound (a band
   * at the threshold still matches ≳15% of the time, keeping b small) and —
   * when `corpusSize` is given — the classic LSH size rule r ≳ log2(n/8),
   * which keeps expected bucket occupancy ~8 so candidate volume stays
   * ~linear in n instead of n²/2^r (random pairs collide in a band w.p.
   * ~0.5^r). Then b solves for the recall target, capped at `maxBands`: at
   * low thresholds AND large n the cap binds and effective recall falls
   * below target — the honest n^ρ (ρ = ln p1/ln p2) wall of hyperplane
   * LSH; production posture there is thresholds ≥0.8 or IVF-partition
   * first. [[cosineLshRecall]] reports the achieved recall.
   */
  def cosineLshParams(threshold: Double, targetRecall: Double = 0.99,
                      corpusSize: Long = 0L, maxBands: Int = 512): (Int, Int) = {
    val t = math.max(-0.999, math.min(0.999, threshold))
    val pPlane = 1.0 - math.acos(t) / math.Pi
    val rThresh = math.max(2, math.min(24, (math.log(0.15) / math.log(pPlane)).toInt))
    val rSize = if (corpusSize > 16) math.ceil(log2(corpusSize / 8.0)).toInt else 0
    val r = math.max(rThresh, math.min(24, rSize))
    val pBand = math.pow(pPlane, r)
    val b = math.max(2, math.min(maxBands,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt))
    (b, r)
  }

  /** Recall of a (bands, planesPerBand) configuration for a pair at exactly
    * `threshold` cosine — 1-(1-(1-θ/π)^r)^b. Use to audit what a capped
    * band count actually delivers. */
  def cosineLshRecall(threshold: Double, bands: Int, planesPerBand: Int): Double = {
    val t = math.max(-0.999, math.min(0.999, threshold))
    val pPlane = 1.0 - math.acos(t) / math.Pi
    1.0 - math.pow(1.0 - math.pow(pPlane, planesPerBand), bands)
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /**
   * Embedding near-duplicate pairs: banded OR-construction over seeded
   * sign-hyperplane buckets (the same AND-within-band / OR-across-bands
   * shape as [[minhashLshPairs]]) + exact cosine verification. Candidates =
   * union over bands of bucket-local pairs; one shuffle on (band, bucket),
   * never the corpus crossed with itself. bands/planesPerBand ≤ 0 →
   * auto-tuned from `threshold` (+ `corpusSizeHint` when given: wider
   * bands keep bucket occupancy ~constant as n grows — pass the corpus
   * row count or any within-2× estimate) via [[cosineLshParams]], aiming
   * recall ≥ `targetRecall` at the threshold. `maxBucket` caps the
   * in-bucket quadratic term; drops are observable via `metrics`.
   */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double = 0.95, bands: Int = 0,
                         planesPerBand: Int = 0, seed: Long = 42L,
                         maxBucket: Int = 10000,
                         metrics: Option[Observation] = None,
                         targetRecall: Double = 0.99,
                         corpusSizeHint: Long = 0L): DataFrame = {
    val (autoB, autoR) = cosineLshParams(threshold, targetRecall, corpusSizeHint)
    val b = if (bands > 0) bands else autoB
    val r = if (planesPerBand > 0) planesPerBand else autoR
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))

    // 1. one bucket key per band, independent planes per band via the seed
    //    (single expression for all bands — codegen-safe at hundreds of bands)
    val grouped = base
      .select(col("id"), posexplode(
        SqlFunctions.vecLshBands(col("vec"), lit(b), lit(r), lit(seed))))
      .groupBy(col("pos"), col("col"))
      .agg(collect_list(col("id")).as("ids"))
    // when the band cap binds (low threshold × large corpus) the delivered
    // recall falls below target — surfaced through the same metrics channel
    // as bucket drops, so the shortfall is observable, not just documented
    val effRecall = cosineLshRecall(threshold, b, r)
    val buckets = capBuckets(grouped, size(col("ids")), maxBucket, metrics,
      extraMetrics = Seq(max(lit(effRecall)).as("lsh_effective_recall"),
        max(lit(b)).as("lsh_bands"), max(lit(r)).as("lsh_planes_per_band")))

    // 2. bucket-local pairs, unioned across bands (only ids shuffle twice;
    //    vectors join back once per candidate)
    val pairs = buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))

    // 3. exact cosine verify BEFORE cross-band dedup: at low thresholds the
    //    raw candidate stream is dominated by one-off random collisions
    //    (measured: 31M of 37M candidates unique at 20k vecs × 512 bands),
    //    so deduping first pays a full shuffle of the candidate stream to
    //    remove almost nothing, while the exact cosine is a few FMA-ns per
    //    pair against a dimension-table join. Verify is a map-side filter;
    //    only the (tiny) surviving near-dup set pays the dedup shuffle.
    //    The candidate stream is orders of magnitude larger than the
    //    vector table, so the stream must NEVER be sorted or — when
    //    avoidable — shuffled: with the corpus known to fit (≤ 250k rows,
    //    tens of MB) the vector side is BROADCAST and the stream stays
    //    entirely map-side; past that, SHUFFLE_HASH keeps the stream a
    //    pipelined probe with zero sorts (measured at 200k vectors /
    //    ≈1e9 candidates: the default SMJ's two sorts spilled ~70 GB and
    //    died on disk; unhinted broadcast only triggers below Spark's
    //    10 MB autoBroadcast threshold, far under what a driver handles).
    val vecJoinHint = if (corpusSizeHint > 0 && corpusSizeHint <= 250000L)
      "broadcast" else "shuffle_hash"
    val va = base.select(col("id").as("id_a"), col("vec").as("vec_a")).hint(vecJoinHint)
    val vb = base.select(col("id").as("id_b"), col("vec").as("vec_b")).hint(vecJoinHint)
    pairs.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", SqlFunctions.vecCosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * Exact repeated-substring detection across the corpus — the
   * train-data curation pass popularized by "Deduplicating Training Data
   * Makes Language Models Better" (Lee et al., ACL 2022), which removes
   * verbatim passages repeated between documents (licenses, boilerplate,
   * quoted headers) that survive document-level dedup.
   *
   * Unit of detection: the WORD-ALIGNED `minLen`-char gram — a substring of
   * exactly `minLen` chars starting at offset 1 or right after a space.
   * Coverage guarantee: any verbatim passage repeated across documents that
   * contains a word start and extends ≥ `minLen` chars past it yields at
   * least one shared gram (natural-language repeats always do; Lee et al.'s
   * suffix-array finds arbitrary-alignment repeats, but word-aligned is the
   * standard distributed relaxation — a repeated passage of L ≥ minLen +
   * max-word-length chars is detected regardless of alignment). Alignment
   * makes the gram stream ~|text|/avg-word-length rows instead of the
   * suffix-array's |text| — the 6-8× that keeps the shuffle affordable.
   *
   * Emits (doc_id, n_shared_grams): how many of the doc's distinct grams
   * appear verbatim in at least one OTHER document — the per-doc repeated-
   * passage mass that drives a keep/trim/drop curation decision.
   *
   * Plan shape — ONE wide shuffle on the gram stream, total: grams are
   * scan-local (one-pass native `aligned_gram_md5s`
   * + explode — composing per-position `substr` expressions instead would
   * rescan the string per offset, O(len²) per doc, measured 30× slower).
   * The naive shape (gram-frequency aggregate, then join the ≥2-doc gram
   * set back onto the gram stream) pays the wide gram shuffle TWICE — once
   * for the aggregate, once to re-shuffle the stream for the join. Instead,
   * shared = total − unique: a gram seen once globally belongs entirely to
   * its one doc (its min(doc) IS that doc), so one (digest → count,
   * min(doc)) aggregate is the only pass over shuffled grams; per-doc
   * totals come from the array size before exploding (scan-local) and the
   * unique-ownership rollup map-side-combines to ~n_docs rows. Shuffles
   * carry 16-byte digests, never text; no pair space exists at all — cost
   * is linear in corpus grams even when one passage repeats a million
   * times (where pair-emitting dedup goes quadratic). Measured sf1 (50k
   * docs, every doc 10×-replicated — the worst case, all grams shared):
   * 5.1 s → 1.6 s warm over the join shape.
   */
  def sharedSubstringStats(df: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text",
                           minLen: Int = 40): DataFrame = {
    require(minLen >= 2, "minLen must be at least 2")
    val docGrams = df.select(col(idCol).as("doc_id"),
      SqlFunctions.alignedGramMd5s(col(textCol), lit(minLen)).as("gs"))
    val totals = docGrams
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      .filter(col("n_grams") > 0)
    val grams = docGrams.select(col("doc_id"), explode(col("gs")).as("g"))
    // digests are distinct per doc, so count(*) == distinct docs per gram
    val perGram = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("owner"))
    val uniques = perGram.filter(col("nd") === 1)
      .groupBy(col("owner")).agg(count(lit(1)).as("n_unique"))
      .withColumnRenamed("owner", "doc_id")
    totals.join(uniques, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_grams") - coalesce(col("n_unique"), lit(0L))).as("n_shared_grams"))
      .filter(col("n_shared_grams") > 0)
  }

  /**
   * Shared-span COVERAGE — the decision signal of Lee-et-al-style exact
   * substring dedup: for each document, how many maximal character spans
   * are covered by cross-document repeated passages, and how many
   * characters they cover. [[sharedSubstringStats]] answers "does this doc
   * repeat material" cheaply; this answers "HOW MUCH of it is repeats" —
   * the number a keep/trim/drop curation rule actually thresholds on
   * (trim a doc that is 5% license header; drop one that is 90% mirrored
   * boilerplate).
   *
   * Every aligned gram occurrence (duplicates kept — a gram repeated
   * within one doc covers several spans) becomes a candidate interval
   * [pos, pos+minLen); occurrences whose gram appears in ≥ 2 documents
   * are merged per doc by the classic gaps-and-islands pass: a new island
   * starts where `pos` exceeds the running max of previous interval ends
   * (adjacent intervals fuse — coverage has no gap). Emits
   * (doc_id, n_spans, n_chars_covered) for documents with any shared span.
   *
   * Plan: position stream (scan-local expression + explode) → per-digest
   * distinct-doc count (two-phase aggregate) → shuffle join of positions
   * against the ≥2-doc digests → per-doc window (≤ words-per-doc rows per
   * partition) → two-level aggregate. The join back onto the position
   * stream is inherent here (unlike the counting operator): coverage
   * needs to know WHERE the shared grams sit.
   */
  def sharedSpanStats(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      minLen: Int = 40): DataFrame =
    sharedSpans(df, idCol, textCol, minLen)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum((col("e") - col("s")).cast("long")).as("n_chars_covered"))

  /** The merged-interval table behind [[sharedSpanStats]] and
    * [[removeSharedSpans]]: (doc_id, s, e) — maximal [s, e) character spans
    * covered by cross-document repeated grams, disjoint and sorted per doc
    * by construction of the islands merge. */
  private def sharedSpans(df: DataFrame, idCol: String, textCol: String,
                          minLen: Int): DataFrame = {
    require(minLen >= 2, "minLen must be at least 2")
    import org.apache.spark.sql.expressions.Window
    val pos = df.select(col(idCol).as("doc_id"),
        explode(SqlFunctions.alignedGramPosMd5s(col(textCol), lit(minLen))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))
    val sharedGrams = pos.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("g"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runEnd = max(col("pos") + lit(minLen))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = pos.join(sharedGrams, "g")
      // one interval per covered offset; a position can carry several
      // shared digests only if duplicated rows were fed in — (doc, pos) is
      // unique by construction of the expression
      .withColumn("ni",
        when(col("pos") > coalesce(runEnd, lit(-1)), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos") + lit(minLen)).as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /**
   * Shared-span REMOVAL — the full Lee-et-al exact substring dedup: cut
   * every cross-document repeated span out of each document, keeping the
   * unique remainder. [[sharedSpanStats]] measures; this one edits.
   *
   * The splice is a fold over each doc's sorted disjoint spans (a
   * higher-order `aggregate`: carry (result, cursor), append the
   * between-spans segment, jump the cursor; finish with the tail) — pure
   * string arithmetic that an independent engine reproduces byte-for-byte
   * from the same span table, so a cleaned corpus can be hash-audited
   * cross-engine.
   *
   * Scale shape: the span table is tiny next to the corpus (spans ≤
   * words-per-doc rows per affected doc, only affected docs present), so
   * the join back is broadcast-able and the corpus itself NEVER shuffles —
   * the whole edit is a map-side pass. Returns every input row with
   * `cleaned` (text with spans cut; NULL text stays NULL) and
   * `n_chars_removed` (0 for untouched docs, INCLUDING NULL-text rows, so
   * downstream sums never silently skip rows).
   */
  def removeSharedSpans(df: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        minLen: Int = 40): DataFrame = {
    val spans = sharedSpans(df, idCol, textCol, minLen)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
      .withColumnRenamed("doc_id", "__span_doc")
    val joined = df.join(spans, col(idCol) === col("__span_doc"), "left")
    val t = col(textCol)
    val splice = expr(
      s"""aggregate(
         |  sp,
         |  struct(CAST('' AS STRING) AS r, 0 AS c),
         |  (acc, x) -> struct(
         |    concat(acc.r, substring($textCol, acc.c + 1, x.s - acc.c)) AS r,
         |    x.e AS c),
         |  acc -> concat(acc.r, substring($textCol, acc.c + 1, length($textCol) - acc.c))
         |)""".stripMargin)
    joined
      .withColumn("cleaned", when(col("sp").isNull, t).otherwise(splice))
      .withColumn("n_chars_removed",
        coalesce((length(t) - length(col("cleaned"))).cast("long"), lit(0L)))
      .drop("sp", "__span_doc")
  }

  /**
   * Global LINE-level exact dedup — the C4-family boilerplate-removal pass
   * (Raffel et al. JMLR'20 §2.2 keep-one-occurrence rule, applied to
   * lines): every line whose trimmed length is ≥ `minLen` is kept only at
   * its FIRST corpus occurrence — the lexicographically minimal
   * (doc_id, position) — and removed from every other document (and from
   * later positions of the same document); shorter lines always stay, so
   * structure like blank separators survives. Returns one row per input
   * doc: (doc_id, cleaned, n_lines_removed), NULL text staying NULL with
   * n_lines_removed = 0 (the [[removeSharedSpans]] totality contract).
   *
   * Scale shape: the corpus text never crosses an exchange. The decision
   * stream ships (digest, id, pos) — a 16-byte md5 per eligible line;
   * first-occurrence selection is one map-side-combined min-aggregate on
   * the digest; drop positions collapse to ONE small sorted-int-array row
   * per affected doc, which joins back on doc_id (broadcast under AQE
   * whenever few docs are affected) and the splice is a scan-local
   * higher-order filter over split(text) — the same
   * corpus-stays-in-place shape as [[removeSharedSpans]].
   */
  /**
   * C4 THREE-SENTENCE-SPAN dedup (Raffel et al. JMLR'20 §2.2: "we
   * discard all but one of any three-sentence span occurring more than
   * once in the data set") — the sentence-granular member of the
   * first-occurrence family ([[dedupLines]] = lines,
   * [[dedupParagraphs]] = blocks). Sentences are the pieces of
   * `regexp_extract_all(text, "[^.!?]*[.!?]+|[^.!?]+$")` — a partition
   * of the text (every char lands in exactly one piece; RE2/Java agree
   * because the greedy first alternative never backtracks into the `$`
   * anchor case), so joining surviving pieces with "" reconstructs
   * untouched docs byte-exactly. Span identity is the md5 of the
   * `spanLen` TRIMMED consecutive pieces; the globally-first (id, pos)
   * occurrence survives, every other occurrence's sentences are removed
   * (overlapping removals union — each sentence leaves once). Returns
   * (id, cleaned, n_sentences_removed); NULL text stays NULL with 0
   * removed (the [[removeSharedSpans]] totality contract).
   *
   * Scale shape: identical to [[dedupLines]] — the decision stream
   * ships 16-byte span digests (never sentences), first-occurrence
   * selection is one map-side-combined min-aggregate, drop starts
   * collapse to one sorted-int-array row per affected doc, and the
   * splice is a scan-local indexed filter; corpus text never crosses an
   * exchange.
   */
  def dedupSentenceSpans(df: DataFrame, spanLen: Int = 3,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(spanLen >= 2, "spanLen must be at least 2")
    val sentPattern = "[^.!?]*[.!?]+|[^.!?]+$"
    def piecesOf(t: Column): Column =
      regexp_extract_all(t, lit(sentPattern), lit(0))
    val withSpans = df
      .select(col(idCol).as("__id"), piecesOf(col(textCol)).as("__ps"))
      .select(col("__id"),
        when(size(col("__ps")) >= spanLen,
          transform(sequence(lit(0), size(col("__ps")) - spanLen),
            p => md5(array_join(
              transform(slice(col("__ps"), p + 1, lit(spanLen)), x => trim(x)),
              "\u001F"))))
          .otherwise(array().cast("array<string>")).as("__spans"))
    val occ = withSpans
      .select(col("__id"), posexplode(col("__spans")).as(Seq("__pos", "__dg")))
    val first = occ.groupBy(col("__dg"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__keep"))
    val drops = occ.join(first, "__dg")
      .filter(!(col("__id") === col("__keep.__id") &&
        col("__pos") === col("__keep.__pos")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__drop"))
    val ps = piecesOf(col(textCol))
    val surviving = filter(ps,
      (_, i) => !exists(col("__drop"), d => d <= i && i < d + spanLen))
    df.join(drops, col(idCol) === drops("__id"), "left")
      .select(col(idCol),
        when(col("__drop").isNull, col(textCol))
          .otherwise(array_join(surviving, "")).as("cleaned"),
        when(col("__drop").isNull || col(textCol).isNull, lit(0L))
          .otherwise((size(ps) - size(surviving)).cast("long"))
          .as("n_sentences_removed"))
  }

  def dedupLines(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", minLen: Int = 10,
                 sep: String = "\n"): DataFrame = {
    require(minLen >= 1, "minLen must be positive")
    val lines = eligibleLines(df, idCol, textCol, minLen, sep)
    val first = lines.groupBy(col("__dg"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__keep"))
    val drops = lines.join(first, "__dg")
      .filter(!(col("__id") === col("__keep.__id") &&
        col("__pos") === col("__keep.__pos")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__drop"))
    spliceLineDrops(df, drops, idCol, textCol, sep)
  }

  /** PARAGRAPH-granularity [[dedupLines]] — the MassiveText/Gopher unit
    * (Rae et al. 2021 dedup paragraphs, not lines): blank-line-separated
    * blocks keep their first corpus occurrence. Same decision stream,
    * aggregate, and splice; only the separator and the (longer) minimum
    * eligible length differ. */
  def dedupParagraphs(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", minLen: Int = 20): DataFrame =
    dedupLines(df, idCol, textCol, minLen, sep = "\n\n")

  /** Eligible-unit decision stream: (__id, __pos, __dg) — a 16-byte md5
    * per `sep`-delimited unit whose trimmed length is ≥ minLen; doc text
    * never leaves the scan. Shared by [[dedupLines]] / [[writeLineIndex]]
    * / [[dedupLinesAgainstIndex]] so all agree on eligibility. */
  private def eligibleLines(df: DataFrame, idCol: String, textCol: String,
                            minLen: Int, sep: String = "\n"): DataFrame =
    df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), sep)).as(Seq("__pos", "__ln")))
      .filter(length(trim(col("__ln"))) >= minLen)
      .select(col("__id"), col("__pos"), md5(col("__ln")).as("__dg"))

  /** Join a (__id, __drop sorted-int-array) drop table back onto the
    * corpus and splice — scan-local higher-order filter, corpus text
    * never shuffles (broadcast under AQE when few docs are affected). */
  private def spliceLineDrops(df: DataFrame, drops: DataFrame,
                              idCol: String, textCol: String,
                              sep: String = "\n"): DataFrame =
    df.join(drops, col(idCol) === drops("__id"), "left")
      .select(col(idCol),
        when(col("__drop").isNull, col(textCol))
          .otherwise(array_join(filter(split(col(textCol), sep),
            (_, i) => !array_contains(col("__drop"), i)), sep)).as("cleaned"),
        coalesce(size(col("__drop")), lit(0)).cast("long").as("n_lines_removed"))

  /**
   * Persist the corpus line-digest index: one row per distinct eligible
   * line digest with its keeper (first (id, pos) occurrence),
   * range-partitioned and sorted by digest so parquet row-group min/max
   * statistics prune digest-equality probes. The artifact that makes LINE
   * dedup INCREMENTAL: a 100 TB corpus is line-hashed once; every
   * arriving batch probes 16-byte digests instead of re-reading corpus
   * text (see [[dedupLinesAgainstIndex]]).
   */
  def writeLineIndex(df: DataFrame, path: String, idCol: String = "doc_id",
                     textCol: String = "text", minLen: Int = 10,
                     numPartitions: Int = 8): Unit =
    eligibleLines(df, idCol, textCol, minLen)
      .groupBy(col("__dg"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__keep"))
      .select(col("__dg").as("dg"), col("__keep.__id").as("keep_id"),
        col("__keep.__pos").as("keep_pos"))
      .repartitionByRange(numPartitions, col("dg"))
      .sortWithinPartitions(col("dg"))
      .write.mode("overwrite").parquet(path)

  /**
   * Incremental C4-style line dedup of an arriving batch against a
   * [[writeLineIndex]]-persisted corpus: a batch line is dropped when its
   * digest exists in the index (the corpus saw it first) OR an earlier
   * (id, pos) occurrence exists within the batch itself; splice and
   * output shape are [[dedupLines]]'s exactly — an index join only, no
   * state.
   *
   * Equality contract with the batch op (the arrival-order caveat): when
   * every corpus id precedes every batch id, the result equals
   * `dedupLines(corpus ∪ batch)` restricted to batch docs, because batch-
   * global (id, pos) order then coincides with corpus-first-then-batch
   * order. Out-of-order arrival keeps the DROP decisions valid (a line in
   * the index is a duplicate either way) but the keeper attribution
   * differs from a from-scratch batch run — document order, not a defect.
   *
   * Scale shape: the batch ships digests only; the index join reads ONE
   * pruned column of the index (AQE broadcasts whichever side is small);
   * corpus text is never touched at all — the whole point of the index.
   */
  def dedupLinesAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                             indexPath: String, batch: DataFrame,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             minLen: Int = 10): DataFrame = {
    require(minLen >= 1, "minLen must be positive")
    val idx = spark.read.parquet(indexPath)
      .select(col("dg").as("__dg")).withColumn("__in_idx", lit(true))
    val lines = eligibleLines(batch, idCol, textCol, minLen)
    val first = lines.groupBy(col("__dg"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__keep"))
    val drops = lines.join(first, "__dg")
      .join(idx, Seq("__dg"), "left")
      .filter(coalesce(col("__in_idx"), lit(false)) ||
        !(col("__id") === col("__keep.__id") &&
          col("__pos") === col("__keep.__pos")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(col("__pos"))).as("__drop"))
    spliceLineDrops(batch, drops, idCol, textCol)
  }

  /**
   * Persist the corpus MinHash-LSH index, SPLIT into its two access
   * shapes:
   *
   *   `$path/sigs`  — (id, sig): each signature stored ONCE
   *   `$path/bands` — (id, band, key): skinny 24-byte band rows,
   *                   range-partitioned and sorted by bucket key so
   *                   parquet row-group min/max statistics prune
   *                   key-equality probes
   *
   * Probes equi-join the BANDS side — where the in-bucket row product
   * lives — and attach signatures only to the already-DEDUPED candidate
   * set. The previous single-table layout carried the full signature on
   * every band row (bands × sig-bytes redundancy: ~40 GB at a 5 M-doc
   * probe corpus vs ~3 GB split); its decode dominated every consumer,
   * measured 148 s vs ~15 s for the labeling regroup at that scale.
   * This is the artifact that makes dedup INCREMENTAL — the 100 TB
   * corpus is signed once, and every arriving batch probes the index
   * instead of re-reading corpus text (see [[dedupAgainstIndex]]).
   *
   * `wordShingle` > 0 switches the signature unit to word n-grams (the
   * published 13-word configuration — [[minhashLshPairsWords]]); the
   * char `shingle` is ignored then. An index and its probes must agree
   * on the unit — the layout is identical either way. The bands side is
   * derived by reading `sigs` back rather than re-signing the corpus:
   * one text scan total, and the signature pass (the dominant cost on a
   * real corpus) is never repeated.
   */
  def writeMinhashIndex(df: DataFrame, path: String, idCol: String = "doc_id",
                        textCol: String = "text", numHashes: Int = 64,
                        bands: Int = 16, shingle: Int = 5,
                        wordShingle: Int = 0,
                        mode: String = "overwrite"): Unit = {
    val sig =
      if (wordShingle > 0)
        SqlFunctions.minhashSigWords(col(textCol), lit(numHashes), lit(wordShingle))
      else SqlFunctions.minhashSig(col(textCol), lit(numHashes), lit(shingle))
    df.select(col(idCol).cast("long").as("id"), sig.as("sig"))
      .write.mode(mode).parquet(s"$path/sigs")
    df.sparkSession.read.parquet(s"$path/sigs")
      .select(col("id"),
        posexplode(SqlFunctions.sigBands(col("sig"), lit(bands))).as(Seq("band", "key")))
      .repartitionByRange(col("key"))
      .sortWithinPartitions(col("key"), col("band"))
      .write.mode(mode).parquet(s"$path/bands")
  }

  /**
   * Near-duplicate pairs between an ARRIVING BATCH and the corpus behind a
   * persisted [[writeMinhashIndex]] index — the incremental form of
   * [[minhashLshPairs]]: the corpus is never re-signed and its text is
   * touched only for the final exact verification of surviving candidates.
   * Emits (new_id, corpus_id, jaccard) with jaccard ≥ threshold; callers
   * drop or link batch docs from the pairs.
   *
   * Scale shape: the batch (assumed ≪ corpus, the incremental premise) is
   * signed in one scan; its bucket keys probe the index via an equi-join
   * on (band, key) — when the batch contributes ≤ `maxPushdownKeys`
   * distinct keys they are additionally pushed as a static `isin`
   * predicate into the index scan, which the sorted-by-key layout turns
   * into row-group pruning (the bounded driver collect is capped by the
   * same knob). The signature-estimate prefilter kills LSH false
   * positives where the candidates are born, and only surviving pairs pay
   * the two text lookups (batch + corpus by id — candidate side is small,
   * so AQE broadcasts it against the corpus scan).
   */
  def dedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, batch: DataFrame, corpus: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        numHashes: Int = 64, bands: Int = 16, shingle: Int = 5,
                        threshold: Double = 0.8,
                        maxPushdownKeys: Int = 8192,
                        bloomPath: Option[String] = None,
                        wordShingle: Int = 0): DataFrame = {
    val cand = indexProbeCandidates(spark, indexPath, batch, idCol, textCol,
      numHashes, bands, shingle, threshold, maxPushdownKeys, bloomPath,
      wordShingle)
    verifyCross(cand, batch, corpus, idCol, textCol, shingle, wordShingle,
      threshold)
  }

  /** The estimate-surviving (new_id, corpus_id) candidate set of a batch
    * probing a [[writeMinhashIndex]] artifact — the pre-verification half
    * of [[dedupAgainstIndex]], shared with the connectivity-sufficient
    * probe. */
  private def indexProbeCandidates(spark: org.apache.spark.sql.SparkSession,
                                   indexPath: String, batch: DataFrame,
                                   idCol: String, textCol: String,
                                   numHashes: Int, bands: Int, shingle: Int,
                                   threshold: Double, maxPushdownKeys: Int,
                                   bloomPath: Option[String],
                                   wordShingle: Int): DataFrame = {
    import org.apache.spark.sql.graft.BloomKeyMightContain
    val bandsIdx = spark.read.parquet(s"$indexPath/bands")
    val sigsIdx = spark.read.parquet(s"$indexPath/sigs")
    val bsig =
      if (wordShingle > 0)
        SqlFunctions.minhashSigWords(col(textCol), lit(numHashes), lit(wordShingle))
      else SqlFunctions.minhashSig(col(textCol), lit(numHashes), lit(shingle))
    val bsigs = batch.select(col(idCol).as("new_id"), bsig.as("new_sig"))
    // SKINNY band rows on both join sides: the in-bucket row product pays
    // 24-byte rows, and signatures attach only to the DEDUPED candidates
    val bbandAll = bsigs.select(col("new_id"),
      posexplode(SqlFunctions.sigBands(col("new_sig"), lit(bands))).as(Seq("band", "key")))
    // optional Bloom pre-screen (see [[writeBloomIndex]]): a mostly-novel
    // batch drops most of its bucket keys SCAN-LOCALLY, before the key
    // collect and the index join — no false negatives, so results are
    // identical with or without (differential-tested)
    val bband = bloomPath match {
      case Some(p) => bbandAll.filter(c(BloomKeyMightContain(e(col("key")),
        loadBloomState(spark, p))))
      case None => bbandAll
    }
    // bounded collect (≤ maxPushdownKeys + 1 rows) decides whether the
    // batch's keys can become a static parquet row-group-pruning predicate
    val keySample = bband.select(col("key")).distinct()
      .limit(maxPushdownKeys + 1).collect().map(_.getLong(0))
    val pruned =
      if (keySample.length <= maxPushdownKeys) bandsIdx.filter(col("key").isin(keySample: _*))
      else bandsIdx
    // the estimate prefilter runs per DISTINCT candidate pair now, not per
    // band collision — same surviving set (a pair's signatures are the
    // same in every colliding band), fewer estimate evaluations
    pruned.join(bband, Seq("band", "key"))
      .select(col("new_id"), col("id").as("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
      .join(sigsIdx.select(col("id").as("corpus_id"), col("sig")), "corpus_id")
      .join(bsigs, "new_id")
      .filter(SqlFunctions.sigJaccard(col("sig"), col("new_sig")) >= threshold - 0.2)
      .select(col("new_id"), col("corpus_id"))
  }

  /** Exact-Jaccard verification of (new_id, corpus_id) candidates via the
    * two text lookups — [[dedupAgainstIndex]]'s tail, shared with the
    * connectivity-sufficient probe's rep + residue rounds. */
  private def verifyCross(cand: DataFrame, batch: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String, shingle: Int,
                          wordShingle: Int, threshold: Double): DataFrame = {
    val bt = batch.select(col(idCol).as("new_id"), col(textCol).as("new_text"))
    val ct = corpus.select(col(idCol).as("corpus_id"), col(textCol).as("corpus_text"))
    val verify =
      if (wordShingle > 0)
        SqlFunctions.wordNgramJaccard(col("new_text"), col("corpus_text"), lit(wordShingle))
      else ngramJaccard(col("new_text"), col("corpus_text"), shingle)
    cand.join(bt, "new_id").join(ct, "corpus_id")
      .withColumn("jaccard", verify)
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /**
   * CONNECTIVITY-SUFFICIENT index probe — the incremental twin of
   * [[minhashLshLabels]]' insight, for the lake fold that consumes the
   * result as GRAPH EDGES (e.g. [[clusterKeepListIncremental]]): a batch
   * doc that near-duplicates a corpus COMPONENT needs ONE verified edge
   * into it, not one per member. On a replication-heavy corpus
   * [[dedupAgainstIndex]]'s full pair table costs batch × replication
   * verifications (measured 4.4× the whole gate at sf10); this probe
   * verifies ~batch × touched-components.
   *
   * Two exact rounds over the SAME estimate-surviving candidate set:
   *
   *  1. REP round: group candidates by (new_id, corpus component) —
   *     component = the candidate's label in `corpusLabels`, itself for
   *     unlabeled singletons — and verify only the min-corpus_id
   *     representative of each group.
   *  2. RESIDUE round: groups whose representative FAILED exact
   *     verification (estimate false positives — rare by construction,
   *     since a replica clique's candidates nearly always verify) re-enter
   *     with ALL remaining members verified.
   *
   * Exactness for connectivity: if ANY true edge (n, c ∈ C) exists among
   * the candidates, either C's rep verifies (edge emitted) or the residue
   * round verifies every other member including c. So
   * CC(corpusLabels ∪ these edges ∪ batch-internal edges) equals
   * CC(corpusLabels ∪ dedupAgainstIndex edges ∪ batch-internal edges) —
   * differential-tested via the keep-list equality. NOT a drop-in
   * replacement for the pair TABLE (per-pair jaccard rows): emitted
   * edges are a connectivity-spanning subset.
   */
  def dedupAgainstIndexConnective(spark: org.apache.spark.sql.SparkSession,
                                  indexPath: String, batch: DataFrame,
                                  corpus: DataFrame, corpusLabels: DataFrame,
                                  idCol: String = "doc_id", textCol: String = "text",
                                  numHashes: Int = 64, bands: Int = 16,
                                  shingle: Int = 5, threshold: Double = 0.8,
                                  maxPushdownKeys: Int = 8192,
                                  bloomPath: Option[String] = None,
                                  wordShingle: Int = 0,
                                  checkpointDir: Option[String] = None): DataFrame = {
    // the candidate set feeds the rep round AND (for failed groups) the
    // residue round — materialize once, like every double-read upstream
    val cand = Checkpoints.materialize(
      indexProbeCandidates(spark, indexPath, batch, idCol, textCol,
        numHashes, bands, shingle, threshold, maxPushdownKeys, bloomPath,
        wordShingle), checkpointDir)
    val lab = corpusLabels.select(col("id").cast("long").as("__cid"),
      col("cluster").cast("long").as("__clab"))
    val grouped = cand.join(lab, cand("corpus_id") === col("__cid"), "left")
      .select(col("new_id"), col("corpus_id"),
        coalesce(col("__clab"), col("corpus_id")).as("__grp"))
    val reps = grouped.groupBy(col("new_id"), col("__grp"))
      .agg(min(col("corpus_id")).as("corpus_id"))
    val repOk = Checkpoints.materialize(
      verifyCross(reps.select(col("new_id"), col("corpus_id")), batch, corpus,
        idCol, textCol, shingle, wordShingle, threshold), checkpointDir)
    // groups whose representative failed: re-attach the group key to the
    // verified reps, anti-join, and verify every REMAINING member
    val failed = reps.join(repOk.select(col("new_id"), col("corpus_id")),
        Seq("new_id", "corpus_id"), "left_anti")
      .select(col("new_id"), col("__grp"), col("corpus_id").as("__rep"))
    val residue = grouped.join(failed, Seq("new_id", "__grp"))
      .filter(col("corpus_id") =!= col("__rep"))
      .select(col("new_id"), col("corpus_id"))
    repOk.unionByName(
      verifyCross(residue, batch, corpus, idCol, textCol, shingle,
        wordShingle, threshold))
  }

  /**
   * Write the Bloom membership screen for a [[writeMinhashIndex]] index:
   * one pass over the index's distinct bucket keys into a serialized
   * Bloom filter the probe side broadcasts (≈1.2 MB per million keys at
   * fpp 0.01). At 100 TB this is the cheap first gate of the incremental
   * path: an arriving batch tests its keys scan-locally and only
   * surviving (mostly truly-colliding) keys reach the (band, key) join —
   * Bloom filters have no false negatives, so the screen is a pure
   * work-skip, never a result change ([[dedupAgainstIndex]]'s
   * `bloomPath`; differential-tested). The filter lands next to the
   * index (local path here; a DFS path on a cluster).
   */
  def writeBloomIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, bloomPath: String,
                      fpp: Double = 0.01): Unit = {
    require(fpp > 0 && fpp < 0.5, s"fpp out of (0, 0.5): $fpp")
    val keys = spark.read.parquet(s"$indexPath/bands").select(col("key")).distinct()
    val n = math.max(1L, keys.count())
    val bf = keys.stat.bloomFilter("key", n, fpp)
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(bloomPath))
    try bf.writeTo(out) finally out.close()
  }

  /** Load + broadcast a [[writeBloomIndex]] filter (bytes ship once per
    * executor; the filter deserializes lazily executor-side). */
  private def loadBloomState(spark: org.apache.spark.sql.SparkSession,
                             bloomPath: String): org.apache.spark.sql.graft.BloomState =
    new org.apache.spark.sql.graft.BloomState(spark.sparkContext.broadcast(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(bloomPath))))
}
