package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew-resilient aggregation: the two-stage salted aggregate for hot keys.
 *
 * Scope note (what salting does and does NOT buy): for ALGEBRAIC aggregates
 * (count/sum/avg/min/max) Spark's map-side partial aggregation already
 * bounds a hot key's reducer input to one partial row per map task —
 * saltedCount exists as the two-stage template, not as a win over
 * plain groupBy. Salting earns its keep for HOLISTIC aggregates whose
 * partial state grows with group size — collect_set/collect_list, exact
 * distinct sets — where one dominant key (a boilerplate domain, the "und"
 * language bucket) concentrates gigabytes of state on one reducer; the
 * same two stages split that state `salt` ways. (AQE skew-join handles
 * the join case; this covers aggregation.)
 */
object Skew {

  /** Deterministic salt from any column (stable across retries — never
    * rand(), which breaks task re-execution). */
  def saltOf(c: Column, salt: Int): Column = pmod(xxhash64(c), lit(salt))

  /** groupBy(key).count with salting. */
  def saltedCount(df: DataFrame, keyCol: String, saltFrom: String, salt: Int = 16): DataFrame =
    df.withColumn("__salt", saltOf(col(saltFrom), salt))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(keyCol))
      .agg(sum(col("__partial")).as("n"))
}
