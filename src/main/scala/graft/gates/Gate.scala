package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: the Spark query for an sf directory, and the DuckDB SQL
  * that replays it independently over the same parquet tables. */
final case class Gate(name: String, query: (SparkSession, String) => DataFrame, oracle: String)

object Gate {

  /** The families' gates in one list. A repeated name would silently
    * shadow an earlier gate in the name-keyed views, so it throws. */
  def registry(families: Seq[Gate]*): Seq[Gate] = {
    val all = families.flatten
    val repeated = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty, s"repeated gate names: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }

  /** SPARK_GRAFT_ONLY=q_a,q_b: the gates Bench and Verify restrict a run
    * to, for focused iteration on a few gates; None (every gate) when
    * unset. */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
}
