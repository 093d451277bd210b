package graft.tools

/**
 * Dev harness: run one or more named SparkEntry queries against an sf dir
 * in the bench's session ([[graft.Session]]) and print per-query wall time.
 *
 *   sbt "runMain graft.tools.RunQuery <sfDir> <query> [query ...]"
 */
object RunQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunQuery <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val spark = graft.Session.local("graft-runquery")
    // SPARK_GRAFT_DUMP=<dir>: also write each query's result parquet there
    // (the Verify layout), for targeted single-query oracle checks
    val dump = sys.env.get("SPARK_GRAFT_DUMP")
    args.drop(1).foreach { name =>
      val t0 = System.nanoTime()
      val q = graft.SparkEntry.queries(name)(spark, sfDir)
      val n = dump match {
        case Some(dir) =>
          q.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          spark.read.parquet(s"$dir/$name").count()
        case None => q.count()
      }
      println(f"[runquery] $name rows=$n ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
