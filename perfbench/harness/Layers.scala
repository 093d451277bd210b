package perfbench

/** Turns a traced loop into per-layer figures: the fixed set the runner
  * reports, the same figures per op type, and the raw spans. */
object Layers {

  private def figures(stats: Seq[OpStats], samples: Seq[Sample]): Map[String, Double] = {
    val n = math.max(1, stats.size).toDouble
    def perOp(f: OpStats => Double) = stats.map(f).sum / n
    val outs = samples.flatMap(_.out)
    val results = outs.map(_.rows).sum
    val skews = stats.flatMap(_.skews)
    Map(
      "api.call_ms" -> Stats.median(outs.map(_.callMs)),
      "driver.self_ms" -> Stats.median(stats.map(_.driverSelfMs)),
      "spark.jobs_per_op" -> perOp(_.jobs.toDouble),
      "spark.tasks_per_op" -> perOp(_.tasks.toDouble),
      "spark.task_run_ms" -> perOp(_.taskRunMs.toDouble),
      "spark.task_cpu_ms" -> perOp(_.taskCpuMs),
      "spark.scheduler_delay_ms" -> perOp(_.schedulerDelayMs.toDouble),
      "spark.gc_ms" -> perOp(_.gcMs.toDouble),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> perOp(_.spill.toDouble),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "sources.files_read_per_op" -> perOp(_.filesRead.toDouble),
      "sources.file_prune_ratio" ->
        (if (stats.map(_.filesTotal).sum == 0) 1.0
         else stats.map(_.filesRead).sum.toDouble / stats.map(_.filesTotal).sum),
      "sources.bytes_read_per_op" -> perOp(_.bytesRead.toDouble),
      "sources.rows_read_per_op" -> perOp(_.rowsRead.toDouble),
      "sources.rows_read_per_result" -> stats.map(_.rowsRead).sum.toDouble / math.max(1L, results))
  }

  /** Share of KNN ops that ran a second, full-table scan, and which did. */
  def widenedKnn(tracer: Tracer): (Double, Map[String, Boolean]) = {
    val knn = tracer.attribute()._1.filter(_.window.kind.startsWith("knn"))
    val by = knn.map(s => s.window.key -> (s.scanQueries >= 2)).toMap
    (if (knn.isEmpty) 0.0 else knn.count(_.scanQueries >= 2).toDouble / knn.size, by)
  }

  /** Ingest stages: shuffle-writing stages are the map side; the rest of the
    * final (write) job writes; stages of earlier jobs sample the key range. */
  private def ingestStages(stats: Seq[OpStats]): Map[String, Any] =
    stats.flatMap(_.stages).groupBy { v =>
      if (v.rec.shuffleWrite > 0) "map" else if (v.inLastJob) "write" else "sample"
    }.map { case (name, vs) =>
      val n = math.max(1, stats.size).toDouble
      val skews = vs.filter(_.rec.durations.size >= 2).map { v =>
        val d = v.rec.durations.sorted
        d.last.toDouble / math.max(1L, d(d.size / 2))
      }
      name -> Map(
        "stages_per_op" -> vs.size / n,
        "spark.tasks_per_op" -> vs.map(_.rec.tasks).sum / n,
        "spark.task_run_ms" -> vs.map(_.rec.runMs).sum / n,
        "spark.task_cpu_ms" -> vs.map(_.rec.cpuNs).sum / 1e6 / n,
        "spark.scheduler_delay_ms" -> vs.map(_.rec.delayMs).sum / n,
        "spark.gc_ms" -> vs.map(_.rec.gcMs).sum / n,
        "spark.shuffle_write_bytes" -> vs.map(_.rec.shuffleWrite).sum / n,
        "spark.shuffle_read_bytes" -> vs.map(_.rec.shuffleRead).sum / n,
        "spark.spill_bytes" -> vs.map(_.rec.spill).sum / n,
        "spark.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)))
    }

  /** `traced` are the timed traced ops and `setup` the traced set-up ops,
    * which are reported by type and as ingest stages only. */
  def record(ctx: Ctx, tracer: Tracer, plain: Seq[Sample], traced: Seq[Sample],
             setup: Seq[Sample], group: Sample => String,
             extra: Map[String, Double]): Map[String, Any] = {
    val (stats, unattributed) = tracer.attribute()
    val sampleOf = (traced ++ setup).map(s => s.id -> s).toMap
    val timedIds = traced.map(_.id).toSet
    val (timed, setupOps) = stats.partition(s => timedIds.contains(s.window.id))
    val overhead = traced.groupBy(group).toSeq.flatMap { case (k, ts) =>
      val ps = plain.filter(group(_) == k).map(_.ms)
      if (ps.isEmpty) None else Some(Stats.median(ts.map(_.ms)) - Stats.median(ps))
    }
    def typeFigures(ss: Seq[OpStats]) = figures(ss, ss.flatMap(s => sampleOf.get(s.window.id))) ++
      Map("op_traced_p50_ms" -> Stats.median(ss.map(_.wallMs)), "ops" -> ss.size.toDouble)
    val byType = timed.groupBy(s => group(sampleOf(s.window.id))).map { case (k, ss) => k -> typeFigures(ss) } ++
      setupOps.groupBy(_.window.kind).map { case (k, ss) => k -> typeFigures(ss) }
    val layers = figures(timed, traced) ++ Kernels.run(ctx) ++ Map(
      "spark.jobs_unattributed" -> unattributed.toDouble,
      "pipeline.tmp_dirs_left" -> (plain ++ traced).map(_.tmpLeft).sum.toDouble,
      "trace.overhead_ms" -> Stats.mean(overhead),
      "knn.widen_ratio" -> 0.0) ++ extra
    Map("layers" -> layers, "layers_by_type" -> byType,
      "ingest_stages" -> ingestStages(setupOps.filter(_.window.kind == "ingest")),
      "spans" -> tracer.spanRecords.map(s => Map("id" -> s.id, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op)))
  }
}
