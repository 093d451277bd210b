package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{SqlFunctions, VecCosineConst, VecNearestCentroid, VecOps}

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`array<float>`).
 *
 * Scale design: brute-force top-k plans as one scan + TakeOrderedAndProject
 * (per-partition bounded heap, driver merges k rows — no full sort, no big
 * shuffle). The LSH variant prunes the scan to matching sign-buckets first;
 * at 100 TB the embedding table would be stored bucketed by
 * `vec_lsh_bucket` so the bucket predicate becomes partition pruning.
 */
object Similarity {
  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftShims.column(e)
  private def e(col: Column) = GraftShims.expression(col)

  def cosineTo(vec: Column, query: Array[Float]): Column =
    c(VecCosineConst(e(vec), query))

  def lshBucket(vec: Column, planes: Int = 12, seed: Long = 42L): Column =
    SqlFunctions.vecLshBucket(vec, lit(planes), lit(seed))

  /** Exact brute-force cosine top-k. Deterministic order: (score desc, id). */
  def cosineTopK(df: DataFrame, query: Array[Float], k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol), cosineTo(col(vecCol), query).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** Run the pruned top-k ONCE, then decide the fallback from its own
    * ≤ k collected rows (the final `limit k` materialization every ANN
    * query pays anyway). The happy path is exactly one scan of the pruned
    * candidates; only a short result (< k rows in the probed cells) pays
    * the full brute-force scan. The returned frame is the already-computed
    * local result, so downstream actions don't re-scan. */
  private def prunedTopKOrFallback(pruned: DataFrame, full: DataFrame,
                                   query: Array[Float], k: Int,
                                   idCol: String, vecCol: String): DataFrame = {
    val hit = cosineTopK(pruned, query, k, idCol, vecCol)
    val rows = hit.collect()
    if (rows.length >= k)
      hit.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), hit.schema)
    else cosineTopK(full, query, k, idCol, vecCol)
  }

  /** Top-k for a query vector already in the table (one driver lookup). */
  def cosineTopKById(df: DataFrame, queryId: Long, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = df.filter(col(idCol) === queryId).select(col(vecCol)).head()
      .getSeq[Float](0).toArray
    cosineTopK(df, q, k, idCol, vecCol)
  }

  // ---- IVF (inverted-file) coarse quantization: the second ANN scale path ----

  /**
   * Train an IVF codebook: k-means (Lloyd) on a driver-side sample with
   * deterministic seeding. At 100 TB the sample cap is the point — training
   * reads `sampleCap` rows once; assignment/search stay fully distributed.
   */
  def ivfTrain(df: DataFrame, nCells: Int, iters: Int = 5,
               vecCol: String = "embedding", sampleCap: Int = 20000,
               seed: Long = 42L): Array[Array[Float]] = {
    // a real sample, not limit(): the head of a clustered/sorted table would
    // train a codebook blind to the rest of the vector space
    val n = df.count()
    val fraction = math.min(1.0, sampleCap * 1.2 / math.max(1L, n))
    val sample = df.select(col(vecCol))
      .sample(withReplacement = false, fraction, seed)
      .limit(sampleCap).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= nCells, s"need >= $nCells vectors, got ${sample.length}")
    val rnd = new scala.util.Random(seed)
    var centroids = rnd.shuffle(sample.indices.toList).take(nCells)
      .map(i => sample(i).clone()).toArray
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    (1 to iters).foreach { _ =>
      val assign = sample.map(v => (0 until nCells).maxBy(c => cos(v, centroids(c))))
      centroids = (0 until nCells).map { c =>
        val members = sample.indices.filter(assign(_) == c)
        if (members.isEmpty) centroids(c)
        else {
          val dim = sample(0).length
          val mean = new Array[Float](dim)
          members.foreach { m => var j = 0; while (j < dim) { mean(j) += sample(m)(j); j += 1 } }
          var j = 0
          while (j < dim) { mean(j) /= members.length; j += 1 }
          mean
        }
      }.toArray
    }
    centroids
  }

  /** Distributed cell assignment (store this column; bucket/partition by it
    * so probes become partition pruning). */
  def ivfAssign(df: DataFrame, centroids: Array[Array[Float]],
                vecCol: String = "embedding"): DataFrame =
    df.withColumn("ivf_cell", c(VecNearestCentroid(e(col(vecCol)), centroids)))

  /**
   * IVF top-k: probe the `nProbe` centroids nearest the query, scan only
   * those cells, exact-rerank; falls back to brute force if the probed
   * cells are short of k rows.
   *
   * Recall depends on the corpus having CLUSTER STRUCTURE for the
   * codebook to capture. The synthetic gate corpus is isotropic (pairwise
   * cosines are a unimodal bell at 0 — measured), so true neighbors
   * spread uniformly over cells and delivered recall sits at its
   * information-theoretic ceiling ≈ nProbe/nCells (the curve measured at
   * sf0.1: 0.4 at 3/8, 0.8 at 6/8 — the gate config — 1.0 at 8/8;
   * ROUND_NOTES round 6, item 2). That is a property of the
   * data, not the operator — on real embedding corpora (which cluster
   * heavily) IVF recall at small nProbe is the standard workhorse, and on
   * isotropic data NO coarse quantizer can do better. The delivered
   * number self-reports through [[ivfDeliveredRecall]] into the bench
   * record either way.
   */
  def ivfTopK(df: DataFrame, centroids: Array[Array[Float]], query: Array[Float],
              k: Int, nProbe: Int = 2, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    def cosArr(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probes = centroids.indices.sortBy(c => -cosArr(query, centroids(c))).take(nProbe)
    val assigned = ivfAssign(df, centroids, vecCol)
    val pruned = assigned.filter(col("ivf_cell").isin(probes: _*))
    prunedTopKOrFallback(pruned, df, query, k, idCol, vecCol)
  }

  /**
   * Persist embeddings Hive-partitioned by their sign-LSH bucket — the
   * 100 TB ANN layout: a probe's bucket predicate becomes DIRECTORY
   * pruning, so a top-k query opens only the matching cells' files
   * (2^planes directories; planes=8 → 256). Same shape as the geohash
   * `gh_prefix` layout for spatial scans.
   */
  def writeEmbeddingsBucketed(df: DataFrame, path: String, planes: Int = 8,
                              seed: Long = 42L,
                              vecCol: String = "embedding"): Unit =
    df.withColumn("lsh_bucket", lshBucket(col(vecCol), planes, seed))
      .repartition(col("lsh_bucket"))
      .write.partitionBy("lsh_bucket").mode("overwrite").parquet(path)

  /**
   * LSH top-k over a [[writeEmbeddingsBucketed]] layout: the bucket
   * membership test is a partition-column predicate (directory skip before
   * any file opens), then exact rerank within the probed cells; brute-force
   * fallback when they hold fewer than k rows. Must use the same
   * planes/seed the table was written with.
   */
  def cosineTopKLshStored(spark: org.apache.spark.sql.SparkSession, path: String,
                          query: Array[Float], k: Int,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          planes: Int = 8, seed: Long = 42L,
                          maxFlips: Int = 1): DataFrame = {
    require(maxFlips >= 0 && maxFlips <= planes, s"maxFlips=$maxFlips out of [0,$planes]")
    val qBucket = VecOps.signBucket(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(query), planes, seed)
    val buckets: Seq[Long] = (0 to maxFlips).flatMap {
      case 0 => Seq(qBucket)
      case f => (0 until planes).combinations(f).map(
        _.foldLeft(qBucket)((b, p) => b ^ (1L << p))).toSeq
    }
    val stored = spark.read.parquet(path)
    val pruned = stored.filter(col("lsh_bucket").isin(buckets: _*))
    prunedTopKOrFallback(pruned, stored, query, k, idCol, vecCol)
  }

  /**
   * Delivered recall of [[ivfTopK]] against the exact top-k for one query:
   * |approx ∩ exact| / k. Costs the probed scan plus ONE brute-force scan
   * (two bounded ≤ k-row collects) — an observability probe for benches and
   * gate corpora, where the honestly-approximate IVF query self-reports its
   * quality next to its wall time; not a per-query production step (the
   * full scan is exactly what IVF exists to avoid).
   */
  def ivfDeliveredRecall(df: DataFrame, centroids: Array[Array[Float]],
                         query: Array[Float], k: Int, nProbe: Int = 2,
                         idCol: String = "vec_id", vecCol: String = "embedding"): Double = {
    val approx = ivfTopK(df, centroids, query, k, nProbe, idCol, vecCol)
      .select(col(idCol)).collect().map(_.getLong(0)).toSet
    val exact = cosineTopK(df, query, k, idCol, vecCol)
      .select(col(idCol)).collect().map(_.getLong(0)).toSet
    if (exact.isEmpty) 1.0 else approx.intersect(exact).size.toDouble / exact.size
  }

  /**
   * LSH-pruned approximate top-k: only rows whose sign-bucket is within
   * `maxFlips` bit flips of the query's bucket are scored (probing the
   * 1-flip neighborhood recovers most near-misses at planes≤16). Falls back
   * to brute force when the probed buckets hold fewer than k rows.
   */
  def cosineTopKLsh(df: DataFrame, query: Array[Float], k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    planes: Int = 12, seed: Long = 42L, maxFlips: Int = 1): DataFrame = {
    require(maxFlips >= 0 && maxFlips <= planes, s"maxFlips=$maxFlips out of [0,$planes]")
    val qBucket = VecOps.signBucket(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(query), planes, seed)
    // all buckets within Hamming distance maxFlips of the query bucket
    val buckets: Seq[Long] = (0 to maxFlips).flatMap {
      case 0 => Seq(qBucket)
      case f => (0 until planes).combinations(f).map(
        _.foldLeft(qBucket)((b, p) => b ^ (1L << p))).toSeq
    }
    val pruned = df.filter(lshBucket(col(vecCol), planes, seed).isin(buckets: _*))
    prunedTopKOrFallback(pruned, df, query, k, idCol, vecCol)
  }

  /**
   * Per-group centroid OUTLIERS — the embedding-space curation pass that
   * flags a shard's off-topic members (mislabeled source, crawler junk):
   * the `k` members farthest from their group's mean vector.
   *
   * EXACT-INTEGER by design: components quantize to integer units
   * (floor(x·scale + 0.5), IEEE-unambiguous in any engine), and the score
   * is Σ_d (n·e_d − S_d)² where S is the group's integer component sum —
   * proportional to squared distance from the mean (scaled by n², same
   * per group, so ranking is unchanged) but computed entirely in int64.
   * A float mean would make scores — and boundary ranks — depend on
   * summation order, which no cross-engine gate can hash-compare; the
   * integer form is bit-identical everywhere. Exactness bound (the
   * QUADRATIC one — the score squares n·e−S): each term is ≤ (2·n·m)²
   * where m = max |quantized component| in the group, so the whole fold
   * needs dims·(2·n·m)² < 2⁶³ — at scale 1000, unit-norm, dims 8 that is
   * a safe group size of ~5×10⁵ rows (NOT 10⁹: that bound only covered
   * the linear n·e term). Both this bound and uniform per-group vector
   * length (heterogeneous dims would null-pad the zip_with and silently
   * drop rows from the top-k) are enforced at runtime via `raise_error`,
   * so violation is an explicit failure, never a wrapped score.
   *
   * Plan: quantize scan-local; per-(group, dim) integer sums (explode +
   * map-side-combined aggregate → |groups|·dims rows, tiny); the centroid
   * table BROADCASTS back and the score is a zip_with/aggregate fold —
   * the embedding table itself shuffles only for the final per-group
   * top-k window.
   */
  def centroidOutliers(df: DataFrame, groupCol: String,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       k: Int = 5, quantScale: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && quantScale >= 1, "k and quantScale must be positive")
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * quantScale + 0.5).cast("long")).as("qe"))
    val cent = base.select(col("grp"), posexplode(col("qe")))
      .groupBy(col("grp"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"),
        max(abs(col("col"))).as("m"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"), min(col("n")).as("n_min"),
        max(col("m")).as("m"),
        transform(array_sort(collect_list(struct(col("pos"), col("s")))),
          x => x.getField("s")).as("sarr"))
    val fold = expr(
      "aggregate(zip_with(qe, sarr, (e, s) -> (n * e - s) * (n * e - s)), " +
        "0L, (acc, x) -> acc + x)")
    // guards (see scaladoc): per-dim counts must agree (else zip_with
    // null-pads and the top-k silently drops rows) and the quadratic
    // int64 bound must hold (else terms wrap silently); both checked in
    // double so the check itself cannot overflow
    val scored = base.join(broadcast(cent), "grp")
      .withColumn("dist_score",
        when(col("n_min") =!= col("n"), raise_error(concat(
          lit("centroidOutliers: heterogeneous vector lengths in group "),
          col("grp").cast("string"))))
        .when(size(col("qe")).cast("double") *
            pow(lit(2.0) * col("n") * col("m"), lit(2.0)) >=
            lit(9.223372036854776e18),
          raise_error(concat(
            lit("centroidOutliers: int64 exactness bound dims*(2*n*m)^2 < 2^63 " +
              "exceeded in group "), col("grp").cast("string"),
            lit(" — shrink the group or lower quantScale"))))
        .otherwise(fold))
    val w = Window.partitionBy(col("grp")).orderBy(col("dist_score").desc, col("id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("grp"), col("id"), col("dist_score"))
  }

  /**
   * Deterministic product-quantization codebooks (Jégou et al., TPAMI'11
   * — the compression half of the IVF+PQ standard ANN stack; [[ivfTrain]]
   * is the coarse half). The `nCodes` corpus vectors minimal in
   * (md5(id), id) order each contribute their s-th subvector to subspace
   * s's codebook — the same deterministic selection as
   * [[semanticNearDupPairs]], chosen over k-means residual training so
   * the ENTIRE encode → ADC chain is SQL-replayable (the gate's oracle
   * re-derives codebooks, code assignments, and scores exactly).
   * Returns codebooks(s)(c) = code c of subspace s.
   */
  def pqCodebooks(df: DataFrame, m: Int, nCodes: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Array[Float]]] = {
    require(m >= 1 && nCodes >= 1, "m and nCodes must be positive")
    val chosen = df.select(col(vecCol).as("v"),
        md5(col(idCol).cast("string")).as("h"), col(idCol).as("id"))
      .orderBy(col("h"), col("id")).limit(nCodes)
      .collect().map(_.getSeq[Float](0).toArray)
    require(chosen.nonEmpty && chosen.head.length % m == 0,
      s"dim ${chosen.headOption.map(_.length)} must divide into $m subspaces")
    val sub = chosen.head.length / m
    Array.tabulate(m)(s => chosen.map(v => v.slice(s * sub, (s + 1) * sub)))
  }

  /** PQ-encode: per-subspace nearest-code indices — the 8-bit-per-subspace
    * compressed representation stored instead of raw floats at scale. */
  def pqEncode(df: DataFrame, codebooks: Array[Array[Array[Float]]],
               vecCol: String = "embedding"): DataFrame =
    df.withColumn("pq_codes",
      c(org.apache.spark.sql.graft.PqEncode(e(col(vecCol)), codebooks)))

  /**
   * PQ top-k by asymmetric distance: the query precomputes its distance
   * to every code ONCE (m×nCodes lookup table, driver-side), then each
   * row's score is m table lookups — no float vector is touched at scan
   * time, which is the whole point of PQ at 100 TB (codes are ~dims/sub×1
   * byte vs dims×4). Returns (id, adc) ascending. Approximate by nature;
   * the spec measures recall against exact cosine top-k.
   */
  def pqTopK(df: DataFrame, codebooks: Array[Array[Array[Float]]],
             query: Array[Float], k: Int, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val sub = query.length / m
    val table = Array.tabulate(m) { s =>
      codebooks(s).map { code =>
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = query(s * sub + j).toDouble - code(j).toDouble
          d += diff * diff
          j += 1
        }
        d
      }
    }
    pqEncode(df, codebooks, vecCol)
      .select(col(idCol),
        c(org.apache.spark.sql.graft.PqAdcConst(
          e(col("pq_codes")), table)).as("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Deterministic coarse centroids for the composed IVF+PQ index: the
   * `nCells` corpus vectors minimal in (md5(id), id) order — same
   * selection rule as [[pqCodebooks]]/[[semanticNearDupPairs]], chosen so
   * the composed index is SQL-replayable end to end (the k-means
   * [[ivfTrain]] codebook remains the quality path when an oracle is not
   * required; recall for both is a measured number, never a claim).
   */
  def deterministicCentroids(df: DataFrame, nCells: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): Array[Array[Float]] = {
    require(nCells >= 1, "nCells must be positive")
    df.select(col(vecCol).as("v"), md5(col(idCol).cast("string")).as("h"),
        col(idCol).as("id"))
      .orderBy(col("h"), col("id")).limit(nCells)
      .collect().map(_.getSeq[Float](0).toArray)
  }

  /**
   * Write the composed IVF+PQ index: rows carry ONLY (id, pq_codes),
   * directory-partitioned by coarse cell — the full 100 TB ANN layout in
   * one artifact. A probe reads nProbe cell DIRECTORIES (partition
   * pruning, no file of any other cell is opened) and scores m-byte code
   * rows through a lookup table (no float vector is stored, read, or
   * shuffled — PQ's entire point: ~m bytes/row vs 4·dims).
   */
  def writeEmbeddingsIvfPq(df: DataFrame, path: String,
                           centroids: Array[Array[Float]],
                           codebooks: Array[Array[Array[Float]]],
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): Unit =
    pqEncode(ivfAssign(df, centroids, vecCol), codebooks, vecCol)
      .select(col(idCol), col("ivf_cell"), col("pq_codes"))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)

  /**
   * IVF+PQ top-k (IVFADC, Jégou et al.): probe the `nProbe` cells whose
   * centroids are cosine-nearest the query (driver arithmetic, same
   * sequential loop as the stored assignment), read only those cell
   * directories, rank by the precomputed ADC table, total (adc, id)
   * tie-break. Approximate on both axes (cell recall × code
   * quantization) — measured, not claimed, in the spec/bench.
   */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                centroids: Array[Array[Float]],
                codebooks: Array[Array[Array[Float]]],
                query: Array[Float], k: Int, nProbe: Int = 2,
                idCol: String = "vec_id"): DataFrame = {
    def cosArr(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probes = centroids.indices
      .sortBy(ci => (-cosArr(query, centroids(ci)), ci)).take(nProbe)
    val m = codebooks.length
    val sub = query.length / m
    val table = Array.tabulate(m) { s =>
      codebooks(s).map { code =>
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = query(s * sub + j).toDouble - code(j).toDouble
          d += diff * diff
          j += 1
        }
        d
      }
    }
    spark.read.parquet(path)
      .filter(col("ivf_cell").isin(probes.map(Integer.valueOf): _*))
      .select(col(idCol),
        c(org.apache.spark.sql.graft.PqAdcConst(e(col("pq_codes")), table)).as("adc"))
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Batch cosine top-k JOIN: every query vector gets its k nearest corpus
   * vectors — the bulk-ANN workload (retrieval eval, hard-negative mining,
   * cross-corpus linking). Plan: the query set BROADCASTS against one
   * corpus scan (queries ≪ corpus is the workload's premise); scoring is
   * scan-local; the per-query top-k is the bounded-heap
   * [[org.apache.spark.sql.graft.TopNByOrd]] aggregate, so each map task
   * ships ≤ k rows per query — never a corpus sort, never a pair shuffle.
   * Deterministic order: ord = sortable bits of −score (ascending heap =
   * score descending, IEEE-exact); score ties would fall to insert order,
   * so emit-and-compare as (query_id, vec_id) sets with verified score
   * margins, as the gate does.
   */
  def cosineTopKJoin(queries: DataFrame, corpus: DataFrame, k: Int,
                     qIdCol: String = "query_id", idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.TopNByOrd
    require(k >= 1, "k must be positive")
    val q = queries.select(col(qIdCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
      .join(broadcast(q))
      .withColumn("__score", SqlFunctions.vecCosine(col("__cv"), col("__qv")))
    val agg = c(TopNByOrd(
      SqlFunctions.doubleSortableBits.expr(e(-col("__score"))), e(col("__cid")), k)
      .toAggregateExpression())
    scored.groupBy(col("query_id"))
      .agg(agg.as("__topn"))
      .select(col("query_id"), explode(col("__topn")).as("__p"))
      .select(col("query_id"), col("__p.id").as(idCol),
        (-SqlFunctions.sortableBitsToDouble(col("__p.ord"))).as("score"))
  }

  /**
   * IVF-accelerated batch top-k JOIN — [[cosineTopKJoin]]'s scale path:
   * every query still gets its k nearest candidates, but each query is
   * scored only against the `nProbe` coarse cells its vector probes,
   * not the whole corpus — candidate volume drops from |corpus|·|Q| to
   * ~|corpus|·|Q|·nProbe/nCells. The bulk-ANN workload (retrieval eval
   * over a query set, hard-negative mining, cross-corpus linking) at
   * corpus scale.
   *
   * Plan shape: corpus rows take their ONE nearest-centroid cell
   * scan-locally ([[org.apache.spark.sql.graft.VecNearestCentroid]],
   * first-index tie-break); queries expand to `nProbe` (cell, query)
   * rows ([[org.apache.spark.sql.graft.VecProbeCells]], cosine DESC /
   * index ASC order) and BROADCAST (queries ≪ corpus is the workload's
   * premise); the hash join on cell is the only wide edge and carries
   * the query side; scoring is scan-local and the per-query top-k is
   * the bounded [[org.apache.spark.sql.graft.TopNByOrd]] heap — ≤ k
   * rows per query leave any map task, never a corpus sort. A corpus
   * vector lives in exactly one cell, so no (query, corpus) pair is
   * scored twice.
   *
   * With [[deterministicCentroids]] the whole chain — codebook, probe
   * selection, cell assignment, rerank — replays exactly in SQL (the
   * gate's oracle); with [[ivfTrain]] centroids, recall is measured,
   * not claimed (spec). Recall loss is exactly the IVF trade: corpus
   * vectors whose cell the query does not probe are unseen.
   */
  def ivfTopKJoin(queries: DataFrame, corpus: DataFrame,
                  centroids: Array[Array[Float]], k: Int, nProbe: Int = 2,
                  qIdCol: String = "query_id", idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.{TopNByOrd, VecProbeCells}
    require(k >= 1, "k must be positive")
    require(nProbe >= 1, "nProbe must be positive")
    val q = queries.select(col(qIdCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__cell",
        explode(c(VecProbeCells(e(col("__qv")), centroids, nProbe))))
    val corp = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
      .withColumn("__cell", c(VecNearestCentroid(e(col("__cv")), centroids)))
    val scored = corp.join(broadcast(q), Seq("__cell"))
      .withColumn("__score", SqlFunctions.vecCosine(col("__cv"), col("__qv")))
    val agg = c(TopNByOrd(
      SqlFunctions.doubleSortableBits.expr(e(-col("__score"))), e(col("__cid")), k)
      .toAggregateExpression())
    scored.groupBy(col("query_id"))
      .agg(agg.as("__topn"))
      .select(col("query_id"), explode(col("__topn")).as("__p"))
      .select(col("query_id"), col("__p.id").as(idCol),
        (-SqlFunctions.sortableBitsToDouble(col("__p.ord"))).as("score"))
  }

  /**
   * SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
   * arXiv:2303.09540): cluster embeddings by nearest centroid, then
   * compare ONLY within a cluster — the blocking step that turns a
   * corpus-quadratic cosine join into per-cluster quadratics, the same
   * candidate-generation/verification split as every dedup here.
   *
   * Centroids are the `nClusters` corpus vectors minimal in
   * (md5(id), id) order — a deterministic pseudo-random sample any SQL
   * engine re-derives. Lloyd refinement would tighten clusters but is
   * deliberately NOT applied: the whole chain (codebook → argmax-cosine
   * assignment with first-index tie-break → within-cluster pairs at
   * `tau`) stays exactly replayable cross-engine, which is what the gate
   * verifies. Recall vs a full quadratic scan is the SemDeDup trade:
   * cross-cluster pairs are unseen by design (measured in the spec).
   *
   * Scale shape: the codebook is a bounded driver collect (`nClusters`
   * rows); assignment is scan-local; one shuffle groups each cluster;
   * `maxCluster` caps the in-cluster quadratic (counted via `metrics`,
   * never silent — same contract as Dedup.capBuckets).
   */
  def semanticNearDupPairs(df: DataFrame, idCol: String = "vec_id",
                           vecCol: String = "embedding", nClusters: Int = 8,
                           tau: Double = 0.5, maxCluster: Int = 100000,
                           metrics: Option[org.apache.spark.sql.Observation] = None)
      : DataFrame = {
    require(nClusters >= 1, "nClusters must be positive")
    val cent = df.select(col(vecCol).as("v"),
        md5(col(idCol).cast("string")).as("h"), col(idCol).as("id"))
      .orderBy(col("h"), col("id")).limit(nClusters)
      .collect().map(_.getSeq[Float](0).toArray)
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", c(VecNearestCentroid(e(col("v")), cent)))
    val grouped = assigned.groupBy(col("cell"))
      .agg(collect_list(struct(col("id"), col("v"))).as("items"))
    val observed = metrics match {
      case Some(obs) => grouped.observe(obs,
        sum(when(size(col("items")) > maxCluster, 1L).otherwise(0L)).as("dropped_clusters"),
        sum(when(size(col("items")) > maxCluster, size(col("items")).cast("long"))
          .otherwise(0L)).as("dropped_vec_slots"),
        max(size(col("items"))).as("max_cluster_size"))
      case None => grouped
    }
    observed.filter(size(col("items")).between(2, maxCluster))
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("cos", SqlFunctions.vecCosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= tau)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  // ---- SQ8: per-vector symmetric int8 scalar quantization ----

  /**
   * SQ8 encode — the third compression point on the ANN storage ladder
   * (float32 → SQ8 at 4× → PQ at ~dims/2×): per-vector symmetric int8
   * quantization, `sq_scale = max|x|` and
   * `code_i = floor(x_i · 127 / sq_scale + 0.5)` ∈ [-127, 127], stored as
   * `array<tinyint>`. Reconstruction error is ≤ sq_scale/254 per
   * coordinate (half a quantization step), which is why SQ8 ranks almost
   * identically to float while PQ trades more recall for more
   * compression. The all-zero vector encodes to all-zero codes (the
   * 0/0 guard); NULL embeddings stay NULL.
   *
   * Every arithmetic step (double promote, multiply, divide, +0.5,
   * floor) is an IEEE-exact scalar op both engines perform identically,
   * so encoded codes — unlike any float-mean formulation — are
   * bit-replayable in SQL: the gate's oracle re-encodes the corpus from
   * scratch. Scan-local projection; at 100 TB the encoded table is what
   * you store and scan (4 bytes/dim → 1).
   */
  def sq8Encode(df: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    df.withColumn("sq_scale",
        array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .withColumn("sq_codes",
        when(col("sq_scale") === 0.0,
          transform(col(vecCol), _ => lit(0).cast("byte")))
        .otherwise(transform(col(vecCol),
          x => floor(x.cast("double") * lit(127.0) / col("sq_scale") + lit(0.5))
            .cast("byte"))))

  /**
   * Quantized maximum-inner-product top-k over SQ8 codes: the query is
   * quantized with the IDENTICAL arithmetic (JVM doubles run the same
   * IEEE ops the executors do), each row's score is the INTEGER code dot
   * product — exact, order-free — rescaled by
   * `sq_scale · qscale / 127²` into the approximate inner product.
   * Because the integer dot is exact and the rescale is three exact
   * scalar ops on it, scores and therefore the (score desc, id) ranking
   * replay bit-identically cross-engine — no margin argument needed,
   * unlike every float-accumulation ANN gate. Approximation error vs the
   * true inner product comes only from quantization (measured in the
   * spec, not claimed). One scan + TakeOrderedAndProject, no shuffle.
   */
  def sq8TopK(df: DataFrame, query: Array[Float], k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be positive")
    require(query.length <= (1 << 24),
      "dims beyond 2^24 could overflow the exact-integer dot bound")
    var mq = 0.0
    query.foreach(x => mq = math.max(mq, math.abs(x.toDouble)))
    val qc: Array[Int] =
      if (mq == 0.0) Array.fill(query.length)(0)
      else query.map(x => math.floor(x.toDouble * 127.0 / mq + 0.5).toInt)
    val dot = aggregate(
      zip_with(col("sq_codes"), typedLit(qc.toSeq),
        (a, b) => a.cast("long") * b.cast("long")),
      lit(0L), (acc, x) => acc + x)
    sq8Encode(df, idCol, vecCol)
      .select(col(idCol),
        (dot.cast("double") * col("sq_scale") * lit(mq) / lit(16129.0))
          .as("sq_score"))
      .orderBy(col("sq_score").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
   * SIGIR'98): greedy diversified top-k over a per-query candidate set —
   * rank 1 is the pure-relevance argmax, every later rank maximizes
   * `λ·rel(c) − (1000−λ)·max_{s∈selected} sim(c, s)` (λ in permille,
   * ties (score desc, id asc)) — the standard redundancy-suppression
   * pass between retrieval and context assembly: near-duplicate
   * passages that [[graft.pipeline.Evaluation.rrfFuse]] would happily
   * stack get penalized by their similarity to what is already picked.
   *
   * ALL-INTEGER scoring: callers supply integer `rel` and `sim` (the
   * [[sq8TopK]] code dot products are the natural source — exact,
   * order-free), so the entire greedy trajectory replays verbatim in
   * SQL; no float argmax anywhere. `sims` may arrive in either (or
   * both) orientations — it is symmetrized internally (max over
   * duplicates); missing pairs contribute similarity 0.
   *
   * Scale shape: distributed in the number of QUERIES — each greedy
   * step is one bounded join against the ≤k selected rows plus one
   * windowed per-query argmax, and candidate sets are bounded by
   * contract (an ANN top-N feeds this), so a million-query batch
   * re-ranks in k bounded passes. `selected` is re-referenced three
   * times per step, so it localCheckpoints each round (the HITS
   * branching-factor lesson).
   *
   * Output: (qid, id, rank 1..k, mmr_score) — rank 1's score is λ·rel
   * (no diversity penalty yet, by definition).
   */
  def mmrRerank(cands: DataFrame, sims: DataFrame, k: Int,
                lambdaPermille: Int,
                checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000,
      s"lambdaPermille out of [0, 1000]: $lambdaPermille")
    import org.apache.spark.sql.expressions.Window
    val lam = lit(lambdaPermille.toLong)
    val oneMinus = lit((1000 - lambdaPermille).toLong)
    val base = Checkpoints.materialize(
      cands.select(col("qid"), col("id").cast("long").as("id"),
        col("rel").cast("long").as("rel")),
      checkpointDir)
    val sym = Checkpoints.materialize(
      sims.select(col("qid"), col("a").cast("long").as("a"),
          col("b").cast("long").as("b"), col("sim").cast("long").as("sim"))
        .union(sims.select(col("qid"), col("b").cast("long").as("a"),
          col("a").cast("long").as("b"), col("sim").cast("long").as("sim")))
        .groupBy(col("qid"), col("a"), col("b"))
        .agg(max(col("sim")).as("sim")),
      checkpointDir)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("__score").desc, col("id").asc)
    def argmax(df: DataFrame, rank: Int): DataFrame =
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("qid"), col("id"), col("__score").as("mmr_score"),
          lit(rank.toLong).as("rank"))
    var selected = Checkpoints.materialize(
      argmax(base.withColumn("__score", lam * col("rel")), 1),
      checkpointDir)
    for (r <- 2 to k) {
      val remaining = base.join(selected.select(col("qid"), col("id")),
        Seq("qid", "id"), "left_anti")
      val maxSim = sym
        .join(selected.select(col("qid"), col("id").as("b")), Seq("qid", "b"))
        .groupBy(col("qid"), col("a").as("id"))
        .agg(max(col("sim")).as("__maxsim"))
      val scored = remaining.join(maxSim, Seq("qid", "id"), "left")
        .withColumn("__score",
          lam * col("rel") - oneMinus * coalesce(col("__maxsim"), lit(0L)))
      selected = Checkpoints.materialize(
        selected.union(argmax(scored, r)), checkpointDir)
    }
    selected
  }

  /**
   * Contrastive training-pair mining: for each anchor, the nearest
   * same-label corpus vector (the positive) and the nearest
   * OTHER-label vector (the hard negative) — the batch-construction
   * step for contrastive embedding training (the DPR / Sentence-BERT
   * hard-negative recipe). Ties break toward the smallest id; anchors
   * with no same-label or no other-label counterpart drop (no pair to
   * form). Output: (anchor_id, pos_id, neg_id), ids only.
   *
   * Plan shape: the anchor set broadcasts against ONE corpus scan and
   * both argmaxes ride a single map-side-combined aggregate —
   * max(struct(score, −id)) under same/other-label masks — so a 100 TB
   * embedding table pays one scan, no window, no corpus shuffle;
   * output is anchors-sized.
   */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("__av"),
      col(labelCol).as("__albl"))
    val scored = corpus
      .join(broadcast(a), col(idCol) =!= col("anchor_id"))
      .select(col("anchor_id"), col("__albl"), col(idCol).as("cid"),
        col(labelCol).as("clbl"),
        SqlFunctions.vecCosine(col(vecCol), col("__av")).as("s"))
    scored.groupBy(col("anchor_id"))
      .agg(
        max(when(col("clbl") === col("__albl"),
          struct(col("s"), (-col("cid")).as("ni")))).as("p"),
        max(when(col("clbl") =!= col("__albl"),
          struct(col("s"), (-col("cid")).as("ni")))).as("m"))
      .filter(col("p").isNotNull && col("m").isNotNull)
      .select(col("anchor_id"), (-col("p.ni")).as("pos_id"),
        (-col("m.ni")).as("neg_id"))
  }

  /** Exact integer dot product of two equal-length numeric arrays —
    * the [[sq8TopK]] code-dot building block, exposed for candidate/
    * pairwise scoring feeding [[mmrRerank]]. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  /**
   * Distributed Lloyd k-means (the embedding-clustering workhorse behind
   * SemDeDup-style cluster-then-dedup and corpus topic maps) with FULLY
   * DETERMINISTIC integer arithmetic, so the whole trajectory — seeds,
   * every assignment, every centroid update — replays bit-identically in
   * any engine:
   *
   *  - vectors quantize scan-local to `round(x·quantScale)` int64 (the
   *    [[centroidOutliers]] floor(x·s + 0.5) recipe — IEEE-exact in both
   *    engines);
   *  - seeds are the `k` corpus vectors minimal in (md5(id), id) order —
   *    the deterministic codebook-selection idiom of [[pqTrain]] — with
   *    cell index = ascending-id rank among the seeds;
   *  - assignment is exact-integer squared-L2 argmin, ties to the lowest
   *    cell (int64-safe while dims·(2·quantScale·max|x|)² < 2⁶³ — dims
   *    4×10¹² at scale 1000 and unit-range values; ENFORCED at runtime
   *    each update round from the measured max|q|, so violation is an
   *    explicit failure, never a wrapped score);
   *  - the centroid update is per-dim `sum div count` (BOTH engines
   *    truncate integer division toward zero), an empty cell keeps its
   *    previous centroid.
   *
   * Unlike [[ivfTrain]] (driver-side float training on a SAMPLE, for IVF
   * routing where approximation is fine), this trains on the FULL corpus
   * distributively and its output is oracle-checkable.
   *
   * Scale shape: assignment is scan-local (centroids ship to executors as
   * a k×dims literal inside the codegen'd argmin — no join, no shuffle);
   * the update is posexplode + map-side-combined (cell, dim) sums, so
   * each scan task emits ≤ k·dims rows into one compact shuffle per
   * iteration. The corpus itself never shuffles. Driver holds k·dims
   * longs between iterations (k ≤ 4096 enforced) and the corpus is
   * re-scanned iters+1 times — cache the input when iterating deeply.
   */
  def kmeansAssign(df: DataFrame, k: Int, iters: Int = 2,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   quantScale: Int = 1000): DataFrame = {
    require(k >= 1 && k <= 4096, "k must be in [1, 4096] (driver-held centroids)")
    require(iters >= 1 && quantScale >= 1, "iters and quantScale must be positive")
    val base = df.select(col(idCol).as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * quantScale + 0.5).cast("long")).as("qe"))
    val seedRows = base
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(k)
      .orderBy(col("id"))
      .collect()
    require(seedRows.length == k, s"need >= $k vectors, got ${seedRows.length}")
    var cents: Array[Array[Long]] = seedRows.map(_.getSeq[Long](1).toArray)

    // scan-local exact-integer argmin over the current centroids
    def withCell(): DataFrame = {
      val alts = cents.zipWithIndex.map { case (cvec, j) =>
        val dist = aggregate(
          zip_with(col("qe"), typedLit(cvec.toSeq),
            (ev, cc) => (ev - cc) * (ev - cc)),
          lit(0L), (acc, x) => acc + x)
        struct(dist.as("dist"), lit(j.toLong).as("cell"))
      }
      base.withColumn("__a", array_min(array(alts.toIndexedSeq: _*)))
    }

    (1 to iters).foreach { _ =>
      val perDim = withCell()
        .select(col("__a.cell").as("cell"),
          posexplode(col("qe")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"),
          max(abs(col("v"))).as("m"))
      val rows = perDim
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("dim"),
            expr("s div n").as("c")))),
          x => x.getField("c")).as("cvec"),
          max(col("m")).as("m"))
        .collect()
      // int64 exactness guard (the centroidOutliers posture: documented
      // bounds are ENFORCED): every distance term is ≤ (2·max|q|)² —
      // centroids are trunc-division means, so |c| ≤ max|q| — and the
      // fold sums dims of them. ANSI mode already faults the wrapped
      // arithmetic; this require adds the actionable message and covers
      // non-ANSI sessions. Checked in double so the check itself cannot
      // overflow; fires before any result leaves the operator.
      val maxAbs = (rows.map(_.getLong(2)) :+ 0L).max.toDouble
      val dims = cents.head.length.toDouble
      require(dims * (2.0 * maxAbs) * (2.0 * maxAbs) < 9.223372036854776e18,
        s"kmeansAssign: int64 distance bound dims*(2*max|q|)^2 < 2^63 exceeded " +
          s"(dims=${dims.toInt}, max|q|=${maxAbs.toLong}) — lower quantScale")
      val updated = rows
        .map(r => r.getLong(0).toInt -> r.getSeq[Long](1).toArray)
        .toMap
      cents = cents.indices.map(j => updated.getOrElse(j, cents(j))).toArray
    }
    withCell().select(col("id").as(idCol),
      col("__a.cell").as("cell"), col("__a.dist").as("dist"))
  }
}
