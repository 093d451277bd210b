package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // the focused-run subset restricts the dump and the oracle json
    val only = graft.gates.Gate.only
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // no stale output from an earlier run may stand in for this gate
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(s"$outDir/$name"))
          Some(name)
        }
      Session.release(spark)
      failure
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** `oracles` as one JSON object, name → SQL. The string escape covers
    * backslash, quote and ALL control chars (< 0x20): a tab or CR in an
    * oracle would otherwise make the DuckDB compare's json.load fail. */
  def oracleJson(oracles: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
