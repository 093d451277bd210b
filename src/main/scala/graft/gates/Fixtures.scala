package graft
package gates

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixtures and oracle CTEs that gates of more than one family (or the
  * flagship `SparkEntry.entry`) use, and where the reference's own test
  * data lives. Family-private ones sit in their family's file. */
object Fixtures {

  /** Checkout of the hbase-gis reference implementation; its
    * src/test/resources holds the reference's own fixtures. Where it is
    * absent, q_ingest_tsv and the tests that pin the reference's numbers
    * fail with PATH_NOT_FOUND. */
  val ReferenceDir: String = "/root/reference"

  /** The reference's wifi hotspot points (TSV with X/Y columns, EPSG:4326). */
  val WifiTsv: String = s"$ReferenceDir/src/test/resources/wifi_4326.txt"

  /** This JVM's root for gate scratch files, created on first use. */
  private var scratchRoot: Option[java.nio.file.Path] = None
  private var scratchCount = 0L
  sys.addShutdownHook(releaseScratch())

  /** A path no one else writes for a gate's index or other scratch
    * output: `name` plus a counter, under this JVM's scratch root (a
    * `graft_scratch_*` directory in `java.io.tmpdir`). Neither another
    * call nor another JVM on the same sf directory gets it.
    * [[graft.Session.release]] deletes the root between queries, and the
    * JVM's exit deletes what is left. */
  private[graft] def scratch(name: String): String = synchronized {
    val root = scratchRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory("graft_scratch_")
      scratchRoot = Some(r)
      r
    }
    scratchCount += 1
    root.resolve(s"${name}_$scratchCount").toString
  }

  /** Deletes the scratch root and everything under it. */
  private[graft] def releaseScratch(): Unit = synchronized {
    scratchRoot.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
    scratchRoot = None
  }

  /** Synthetic point cloud derived from lineitem (deterministic, mirrors the
    * oracle SQL exactly): lon ∈ [-180, 20), lat ∈ [-85, 85) on a 0.1° grid. */
  private[graft] def points(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        ((col("l_partkey") % 3600) / 10.0 - 180.0).as("lon"),
        ((col("l_orderkey") % 1700) / 10.0 - 85.0).as("lat"))

  /** Shared CTE chain replaying the full BM25 computation (q_bm25,
    * q_retrieval_eval): term filter inside the token list, (N, Σdl)
    * stats, tf/df, the constant folds as SQL constant expressions, and
    * the per-doc sorted-term ordered fold into `g(doc_id, n_terms,
    * bm25)`. */
  private[graft] val Bm25OracleCtes: String =
    "base AS (SELECT doc_id, " +
      "CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl, " +
      "list_filter(string_split_regex(trim(text), '\\s+'), " +
      "t -> t IN ('merge', 'window', 'table')) AS hits FROM documents), " +
      "st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base), " +
      "tf AS (SELECT doc_id, dl, t AS term, count(*) AS tf FROM " +
      "(SELECT doc_id, dl, unnest(hits) AS t FROM base) GROUP BY doc_id, dl, t), " +
      "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
      "sc AS (SELECT tf.doc_id, tf.term, " +
      "((CAST(st.n_docs - dft.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
      "(CAST(dft.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) * " +
      "((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) / " +
      "(CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * " +
      "((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * " +
      "(CAST(tf.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))) AS s " +
      "FROM tf JOIN dft USING (term) CROSS JOIN st), " +
      "g AS (SELECT doc_id, count(*) AS n_terms, " +
      "list_sum(array_agg(s ORDER BY term)) AS bm25 FROM sc GROUP BY doc_id)"

  /** The query embedding of the vector gates: vec_id 0's, collected. */
  private[graft] def firstVector(embs: DataFrame): Array[Float] =
    embs.filter(col("vec_id") === 0L).select(col("embedding")).head()
      .getSeq[Float](0).toArray

  /** SQ8 re-encode of the query (vec_id 0) as `qc(mq, c)` and of the corpus
    * as `codes(vec_id, m, c)`: int8 codes floor(x·127/max + 0.5) with the
    * per-vector max |x| as scale. Ends with ", ". */
  private[graft] val Sq8CodeCtes: String =
    "qraw AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0), " +
      "q AS (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS mq FROM qraw), " +
      "qc AS (SELECT mq, CASE WHEN mq = 0 THEN list_transform(qv, x -> CAST(0 AS BIGINT)) " +
      "ELSE list_transform(qv, x -> CAST(floor(x * 127.0 / mq + 0.5) AS BIGINT)) END AS c FROM q), " +
      "enc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, " +
      "list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m FROM embeddings), " +
      "codes AS (SELECT vec_id, m, CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT)) " +
      "ELSE list_transform(v, x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT)) END AS c FROM enc), "
}
