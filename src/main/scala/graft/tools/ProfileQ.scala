package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/**
 * Optimization-round profiler: run named SparkEntry queries in the
 * bench's session ([[graft.Session]]), print a per-JOB wall-time breakdown
 * (job description → seconds) for the warm run, and optionally dump
 * `.explain("formatted")` to a file.
 *
 *   sbt "runMain graft.tools.ProfileQ <sfDir> <query> [query ...]"
 *
 * Env:
 *   SPARK_GRAFT_PLAN_DIR=<dir>  also write <dir>/<query>_<tag>.txt with the
 *                               formatted plan (tag from SPARK_GRAFT_PLAN_TAG,
 *                               default "before").
 *   SPARK_GRAFT_PROFILE_RUNS=n  timed (warm) runs per query, default 2 —
 *                               the MIN is reported (bench-comparable).
 */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQ <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val spark = graft.Session.local("graft-profile")

    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt

    // per-job timing listener: records (description-or-callsite, wall sec)
    val jobStart = mutable.Map.empty[Int, (Long, String)]
    val jobs = mutable.ArrayBuffer.empty[(String, Double)]
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("?"))
        jobStart(e.jobId) = (System.nanoTime(), desc)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { case (t0, desc) =>
          if (capture) jobs.synchronized {
            jobs += ((desc, (System.nanoTime() - t0) / 1e9))
          }
        }
    })

    def free(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
    }

    args.drop(1).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // cold run (codegen/JIT) — total recorded, no per-job detail
      val tc0 = System.nanoTime()
      fn(spark, sfDir).count()
      val cold = (System.nanoTime() - tc0) / 1e9
      free()
      var best = Double.MaxValue
      var bestJobs: Seq[(String, Double)] = Nil
      (1 to runs).foreach { _ =>
        jobs.clear()
        capture = true
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        capture = false
        if (t < best) { best = t; bestJobs = jobs.toList }
        free()
      }
      println(f"===== $name cold=$cold%.2f warm_min=$best%.2f s (${bestJobs.size} jobs)")
      bestJobs.zipWithIndex.foreach { case ((desc, sec), i) =>
        println(f"  job$i%3d $sec%7.3f s  ${desc.take(110)}")
      }
      planDir.foreach { dir =>
        new java.io.File(dir).mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/${name}_$planTag.txt"),
          plan.getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
