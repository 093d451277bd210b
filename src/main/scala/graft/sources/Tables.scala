package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Typed loaders for the engine's parquet tables.
 *
 * The `events` table is written with TIMESTAMP(NANOS) precision, which the
 * vectorized parquet reader rejects unless
 * `spark.sql.legacy.parquet.nanosAsLong` is set; we read nanos as long and
 * convert to microsecond TimestampType (truncation, matching what any
 * micros-based engine sees).
 */
object Tables {

  /** Set once per session; runtime-settable. */
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /**
   * The events `ts` column has shipped under two parquet schemas:
   * nanos-annotated INT64 (which Spark surfaces as a nanos long under
   * `nanosAsLong` — truncate to micros) and plain micros TIMESTAMP with
   * isAdjustedToUTC=false (which Spark surfaces as TIMESTAMP_NTZ).
   * Normalize both to TimestampType so downstream `unix_micros`
   * arithmetic is schema-independent; the NTZ→TZ cast is wall-clock-
   * preserving because every session here pins spark.sql.session.timeZone
   * to UTC — the same micros DuckDB's `epoch_us(ts)` reads.
   */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  // DataFrame (logical plan) cache: avoids re-listing files and re-reading
  // parquet footers on every query of a multi-query run. Weakly keyed by
  // session so stopped sessions (and their plans) can be collected.
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]())

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
        cache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent((sfDir, name), { _ =>
      configure(spark)
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name == "events") normalizeEventTs(df) else df
    })
  }

  /** [[table]] with the input-parallelism floor applied ([[scatterSmall]])
    * — for queries whose FIRST stage runs heavy per-row expressions
    * (signatures, md5 sketch cells, tokenization) straight off the scan,
    * in ONE dominant full-corpus pass. Strictly OPT-IN per call site,
    * each flip A/B-measured: queries whose scan flows into a
    * join/aggregate already pay an exchange there (q_modularity 2.1 →
    * 4.8 s warm under blanket scatter), and MULTI-JOB queries re-pay the
    * scatter exchange once per job over the cached logical plan
    * (q_distinct_hll 0.2 → 1.1 s, q_mad 1.0 → 1.7 s — why a blanket
    * documents/embeddings default was measured and rejected too). The
    * winners are single-dominant-pass gates: q_cms_counts 2.7 → 1.5 s,
    * q_binary_eval 1.2 → 0.7 s, q_dedup_ngram ~3 → 1.8 s warm. */
  def tableScattered(spark: SparkSession, sfDir: String,
                     name: String): DataFrame =
    scatterSmall(spark, table(spark, sfDir, name), s"$sfDir/$name.parquet")

  /**
   * Input-parallelism floor (r14). The gate inputs are single-FILE,
   * single-ROW-GROUP parquet, so every scan stage is exactly ONE task no
   * matter how many cores the session has: a parquet row group is
   * unsplittable, and all scan-adjacent compute (minhash signatures, md5
   * sketch cells, tokenization, the probe side of broadcast joins and the
   * partial half of every aggregate) ran single-threaded while the other
   * 31 cores idled — measured q_cms_counts spent 2.5 of its 3.2 s in the
   * one-task sketch stage, and the suite's 8→32-core scaling sat near
   * 1.0× for scan-bound queries. A round-robin scatter to the session's
   * default parallelism fixes that for the price of shuffling the (small
   * by precondition) raw bytes once.
   *
   * Strictly scale-conditional, so a REAL lake layout is untouched: fires
   * only when the whole table is at most one split
   * (bytes ≤ `spark.sql.files.maxPartitionBytes`, i.e. the scan cannot
   * exceed ~1 task per file) AND big enough to carry real per-row compute
   * (≥ 128 KiB — tiny dimension tables skip the exchange), AND the
   * session actually has cores to feed. HASH-repartition on the whole
   * row, not round-robin: round-robin pays a binary row SORT of the
   * single input partition before the exchange
   * (spark.sql.execution.sortBeforeRepartition — measured +0.5 s on the
   * graph gates), while a hash of the full row is deterministic per row
   * (retry-safe with no sort) and uniform. Every declared query's result
   * is partition-invariant by house rule. Production clusters with
   * multi-row-group inputs never hit the condition; the upper bound
   * follows the session's `spark.sql.files.maxPartitionBytes`.
   */
  private def scatterSmall(spark: SparkSession, df: DataFrame,
                           path: String): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (cores <= 2) return df
    val minBytes = 128L * 1024
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }.getOrElse(Long.MaxValue)
    if (bytes >= minBytes && bytes <= maxBytes)
      df.repartition(cores, df.columns.map(col): _*)
    else df
  }

  // Row-count cache: a parquet count() is metadata-cheap but still a job;
  // gate queries that pass counts as PLAN-BUILD hints (broadcast byte
  // budgets, LSH auto-tune) should not pay it once per invocation.
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** Cached row count per (sfDir, table) — computed once per JVM. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    countCache.computeIfAbsent((sfDir, name),
      _ => java.lang.Long.valueOf(table(spark, sfDir, name).count())).longValue()
}
