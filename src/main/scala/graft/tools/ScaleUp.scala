package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic N× scale-up of a testdata directory for scale benching
 * (`sbt "runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>"`).
 *
 * Each fact table becomes `factor` key-offset replicas (offset = replica ×
 * (max key + 1), so foreign keys stay consistent: orders→customer,
 * lineitem→orders/part/supplier, events→users). Dimension tables
 * (region, nation) are NOT scaled — they stay broadcast-sized, like real
 * dimensions at 100 TB. Replica text gets a replica-tag prefix (turning the
 * corpus into a 100%-duplicated dedup stress test — every doc has `factor`
 * near-identical copies); replica embeddings are rotated by the replica
 * index, which decorrelates them (rotation of a random-ish vector is
 * near-orthogonal to the original), so similarity structure is preserved
 * per replica instead of multiplied.
 *
 * events.ts is read and written as the RAW int64 nanos column (no
 * TimestampType round-trip) so graft.sources.Tables reads the scaled
 * directory exactly like the original.
 */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local("graft-scaleup")
    run(spark, src, dst, factor)
    spark.stop()
  }

  /** Reusable scale-up body — also called in-session by [[graft.Bench]],
    * which writes the copy into its run's temp directory and times every
    * gate on it (the record's `sf1_*` keys). */
  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    // events.parquet has shipped as TIMESTAMP(NANOS) int64 and as plain
    // micros TIMESTAMP_NTZ; nanosAsLong lets the legacy layout load, and
    // ts passes through unchanged either way (replicas share timestamps)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val cust = read("customer"); val custS = stride(cust, "c_custkey")
    val supp = read("supplier"); val suppS = stride(supp, "s_suppkey")
    val part = read("part"); val partS = stride(part, "p_partkey")
    val ord = read("orders"); val ordS = stride(ord, "o_orderkey")
    val li = read("lineitem")
    val ev = read("events"); val evS = stride(ev, "event_id")
    val evUserS = stride(ev, "user_id")
    val doc = read("documents"); val docS = stride(doc, "doc_id")
    val emb = read("embeddings"); val embS = stride(emb, "vec_id")

    /** Union of `factor` transformed replicas. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => f(df, r)).reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name written")
    }

    // dimensions: copied, not scaled
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(replicate(cust) { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * custS))
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
    }, "customer")

    write(replicate(supp) { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * suppS))
        .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
    }, "supplier")

    write(replicate(part) { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * partS))
    }, "part")

    write(replicate(ord) { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * ordS))
        .withColumn("o_custkey", col("o_custkey") + lit(r * custS))
    }, "orders")

    write(replicate(li) { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * ordS))
        .withColumn("l_partkey", col("l_partkey") + lit(r * partS))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppS))
    }, "lineitem")

    write(replicate(ev) { (d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * evS))
        .withColumn("user_id", col("user_id") + lit(r * evUserS))
    }, "events")

    write(replicate(doc) { (d, r) =>
      d.withColumn("doc_id", col("doc_id") + lit(r * docS))
        .withColumn("text",
          if (r == 0) col("text") else concat(lit(s"replica $r "), col("text")))
    }, "documents")

    write(replicate(emb) { (d, r) =>
      d.withColumn("vec_id", col("vec_id") + lit(r * embS))
        .withColumn("embedding",
          if (r == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
            s"slice(embedding, 1, $r))"))
    }, "embeddings")

    println(s"[scaleup] done: $dst at ${factor}x $src")
  }
}
