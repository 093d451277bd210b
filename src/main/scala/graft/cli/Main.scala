package graft.cli

import graft.api.Gis
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * CLI mirroring the reference's entry points
 * (reference: src/main/java/tech/stackable/gis/hbase/WithinQuery.java:176-209
 * `main(local|remote, wkt)`; KNNQuery.java:93-118 `main(lon, lat, n)`;
 * Ingest.java:40; BulkIngest.java:27):
 *
 *   runMain graft.cli.Main ingest <tsvPath> [outParquet]
 *   runMain graft.cli.Main within <pointsPath> <wkt> [--no-prune]
 *   runMain graft.cli.Main knn    <pointsPath> <lon> <lat> <k> [--strict]
 *   runMain graft.cli.Main topx   <csvPath> <groupCol> <tsCol> <n>
 *   runMain graft.cli.Main bulk   <n> <lonMin> <lonMax> <latMin> <latMax> [seed]
 *
 * A points path is a TSV file, a `.parquet` file, or a parquet directory
 * (e.g. a `Gis.writePointsPartitioned` layout).
 */
object Main {
  /** A directory (such as a [[Gis.writePointsPartitioned]] layout) or a
    * `.parquet` path reads as parquet; any other file as a points TSV. */
  private[graft] def loadPoints(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir = fs.exists(p) && fs.getFileStatus(p).isDirectory
    if (isDir || path.endsWith(".parquet")) spark.read.parquet(path)
    else Gis.ingestTsv(spark, path)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ingest|within|knn|topx|bulk ...")
    val spark = graft.Session.local("graft-cli")
    val t0 = System.currentTimeMillis()
    args(0) match {
      case "ingest" =>
        val df = Gis.ingestTsv(spark, args(1))
        val n = df.count()
        if (args.length > 2) Gis.writePoints(df, args(2))
        println(s"Geohashed [$n] records in [${System.currentTimeMillis() - t0}]ms.")
      case "within" =>
        val df = loadPoints(spark, args(1))
        val res = Gis.within(df, args(2), prune = !args.contains("--no-prune"))
        val rows = res.collect()
        rows.take(20).foreach(r => println(r.mkString("\t")))
        println(s"Query matched [${rows.length}] points in [${System.currentTimeMillis() - t0}]ms.")
      case "knn" =>
        val df = loadPoints(spark, args(1))
        val res = Gis.knn(df, args(2).toDouble, args(3).toDouble, args(4).toInt,
          strict = args.contains("--strict"))
        res.select("geohash", "id", "lon", "lat", "distance").collect()
          .foreach(r => println(r.mkString("\t")))
        println(s"KNN done in [${System.currentTimeMillis() - t0}]ms.")
      case "topx" =>
        val df = spark.read.option("header", "true").option("inferSchema", "true").csv(args(1))
        val res = Gis.topX(df, args(2), args(3), args(4).toInt)
        println(s"TopX candidates: ${res.count()} in [${System.currentTimeMillis() - t0}]ms.")
      case "bulk" =>
        val seed = if (args.length > 6) args(6).toLong else 42L
        val df = Gis.bulkIngest(spark, args(1).toLong,
          args(2).toDouble, args(3).toDouble, args(4).toDouble, args(5).toDouble, seed)
        println(s"Generated [${df.count()}] records in [${System.currentTimeMillis() - t0}]ms.")
      case "dedup" => // dedup <docsParquet> [method=minhash|simhash|exact] [threshold]
        val docs = graft.sources.Tables.table(spark, args(1), "documents")
        val method = if (args.length > 2) args(2) else "minhash"
        val res = method match {
          case "exact" => graft.pipeline.Dedup.exact(docs, "doc_id", Seq("text"))
          case "simhash" => graft.pipeline.Dedup.simhashPairs(docs, "doc_id", "text")
          case _ =>
            val th = if (args.length > 3) args(3).toDouble else 0.8
            graft.pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = th)
        }
        res.show(10, false)
        println(s"Dedup [$method]: ${res.count()} rows in [${System.currentTimeMillis() - t0}]ms.")
      case "simsearch" => // simsearch <sfDir> <queryVecId> <k>
        val embs = graft.sources.Tables.table(spark, args(1), "embeddings")
        val res = graft.pipeline.Similarity.cosineTopKById(embs, args(2).toLong, args(3).toInt)
        res.show(args(3).toInt, false)
        println(s"SimSearch done in [${System.currentTimeMillis() - t0}]ms.")
      case "textstats" => // textstats <sfDir>
        val docs = graft.sources.Tables.table(spark, args(1), "documents")
        val res = graft.pipeline.TextAnalysis.withQualityScore(docs, "text")
          .withColumn("lang_pred", graft.pipeline.TextAnalysis.langId(org.apache.spark.sql.functions.col("text")))
          .withColumn("tokens", graft.pipeline.TextAnalysis.tokenCountWs(org.apache.spark.sql.functions.col("text")))
          .select("doc_id", "tokens", "n_words", "quality_score", "lang_pred")
        res.show(10, false)
        println(s"TextStats: ${res.count()} rows in [${System.currentTimeMillis() - t0}]ms.")
      case other => sys.error(s"unknown command: $other")
    }
    spark.stop()
  }
}
