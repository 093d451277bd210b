package perfbench

import java.io.File

import graft.SparkEntry

/**
 * pipeline_gates: a fixed list of `SparkEntry.queries` gates over the
 * committed gate inputs, each forced by writing its rows, in a fixed order:
 * the inputs are fixed, and the order changes what the last gate leaves on
 * the heap, so rotating it by seed would only add spread. The rows are
 * checked against `SparkEntry.oracleSql` replayed in DuckDB by the runner.
 */
object Gates {
  val List = Seq("q_dedup_keeplist_incr", "q_dedup_containment", "q_modularity",
    "q_community_stats", "q_components", "q_sssp", "q_knn_join", "q_topx_agg")
  val Tables = Seq("customer", "supplier", "orders", "lineitem", "events", "documents")

  /** One op per gate: build the gate's frame and force it by writing its
    * rows, which the DuckDB check then reads. */
  def specs(ctx: Ctx, data: File, out: File): IndexedSeq[OpSpec] = List.toIndexedSeq.map { g =>
    var n = 0
    OpSpec("gate", g, () => {
      n += 1
      val dir = new File(out, s"$g-${if (ctx.tracer.isDefined) "traced" else "plain"}-$n")
      val (df, callMs) = ctx.call("api.SparkEntry.queries")(SparkEntry.queries(g)(ctx.spark, data.getPath))
      ctx.call("exec.write")(df.write.parquet(dir.getPath))
      OpOut(dir, 0, callMs)
    })
  }
}
