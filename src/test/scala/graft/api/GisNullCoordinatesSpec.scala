package graft.api

import graft.SparkTestBase
import graft.sql.functions.geohash_encode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Points with missing or unparseable coordinates: ingest keeps them as
  * null-keyed rows, and KNN never returns them as neighbours. */
class GisNullCoordinatesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("knn never returns a null-coordinate point, with or without a geohash column") {
    val plain = Seq[(Option[Double], Option[Double], String)](
      (Some(10.0), Some(10.0), "a"), (Some(10.5), Some(10.5), "b"), (None, None, "n"))
      .toDF("lon", "lat", "id")
    val keyed = plain.withColumn("geohash", geohash_encode(col("lat"), col("lon"), 12))
    // neither frame is a stored parquet table, so both take the
    // distributed top-k (GisKnnRingSpec covers null and NaN coordinates in
    // a stored layout)
    for ((path, points) <- Seq("geohash" -> keyed, "no-geohash" -> plain)) {
      val got = Gis.knn(points, 50.0, 50.0, 2).select("id").as[String].collect().toSeq
      assert(got == Seq("b", "a"), s"$path path")
    }
  }

  test("ingestTsv turns a text coordinate into null and keeps the row null-keyed") {
    SparkTestBase.withTempDir("graft_ingest_null") { dir =>
      val tsv = dir.resolve("points.tsv")
      java.nio.file.Files.writeString(tsv,
        "lon\tlat\tid\n-73.98\t40.75\tok\nabc\t40.76\tbad\n")
      val rows = Gis.ingestTsv(spark, tsv.toString)
        .select("id", "lon", "lat", "geohash")
        .as[(String, Option[Double], Option[Double], Option[String])]
        .collect().sortBy(_._1).toSeq
      assert(rows.map(_._1) == Seq("bad", "ok"))
      assert(rows.head == (("bad", None, Some(40.76), None)))
      assert(rows(1)._4.isDefined)
    }
  }
}
