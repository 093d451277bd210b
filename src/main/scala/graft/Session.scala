package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session factory: every main (Bench, Verify, the CLI and the
 * tools) and the test suite build their session here, so a setting lives
 * in exactly one place.
 *
 * Env:
 *   SPARK_GRAFT_CPUS=n       local cores and shuffle partitions
 *                            (default: all available processors)
 *   SPARK_GRAFT_MASTER=url   deployment override for the local master
 */
object Session {

  /** Local cores, also the shuffle-partition count. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // single-node local shuffles: compression costs more than the local
      // disk I/O it saves
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      // Bound the driver-side status stores: a multi-hundred-query run
      // otherwise retains up to 1000 SQL executions (each with its full
      // plan graph and metrics; iterative graph queries carry multi-MB
      // plan trees) plus 1000 jobs/stages of task data, gigabytes of live
      // heap late in the run. The growing live set made every later
      // query's GC pauses longer, measured as a progressive per-pass
      // slowdown (q_modularity 6.0 s pass 2 → 9.5 s pass 4 on a 20-query
      // slice) with flat host calibration. Retention observes the driver;
      // it is no part of any query's work.
      .config("spark.sql.ui.retainedExecutions", 8)
      .config("spark.ui.retainedJobs", 8)
      .config("spark.ui.retainedStages", 8)
      .config("spark.ui.retainedTasks", 1000)
      .getOrCreate()
    setup(spark)
    spark
  }

  /** Frees what a finished query left behind, called between queries and
    * outside any timed window. Over a few hundred queries, waiting for the
    * ContextCleaner's weak-reference GC let block-manager residue pile up
    * and slowed LATER memory-hungry queries 3-6× (q_dedup_ngram 24.0 s mid-
    * run vs 7.1 s in a fresh session, same corpus and plan). Each gate
    * query is self-contained, so freeing between queries changes no result;
    * that includes the gates' index directories under
    * [[graft.gates.Fixtures.scratch]]. */
  def release(spark: SparkSession): Unit = {
    // localCheckpoint and persisted blocks
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache() // DataFrame .cache() entries
    // shuffle files and broadcast blocks are released through WEAK
    // references, so without a GC the cleaner queue drains only when the
    // heap happens to collect
    System.gc()
    graft.gates.Fixtures.releaseScratch()
  }

  /** Idempotent session set-up: WARN logging, the two counted log mutes
    * (after `setLogLevel`, which resets the root logger) and the graft SQL
    * functions plus the spatial pruning rule. */
  private def setup(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.muteBoundedWindowWarn()
    graft.util.Logs.muteUnpersistCheckpointWarn()
    graft.sql.functions.registerAll(spark)
  }
}
