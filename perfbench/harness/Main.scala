package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/**
 * Benchmark harness: runs one workload in one JVM and writes its raw record
 * (timings, checks, and the per-layer trace when traced) as JSON.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --work DIR --data DIR --out FILE --launch-ms EPOCH_MS
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = new File(opt("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val launchMs = opt("launch-ms").toLong
    val spark = session(cores, work)
    val sparkStartS = (System.currentTimeMillis() - launchMs) / 1000.0
    setUp(spark)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val ctx = Ctx(spark, work, opt("seed").toLong, cores, None)
    val tmp = new TmpWatch(new File(System.getProperty("java.io.tmpdir")))
    val run = new Run(ctx, opt("seconds").toDouble, opt("trace") == "1", tmp)
    val record = try opt("workload") match {
      case "geo_serve" => run.geoServe()
      case "pipeline_gates" => run.pipelineGates(new File(opt("data")))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      spark.stop()
    }
    val full = record ++ Map("workload" -> opt("workload"), "seed" -> ctx.seed,
      "cores" -> cores, "session_s" -> sessionS, "spark_start_s" -> sparkStartS,
      "setup_s" -> (sessionS + record("prepare_s").asInstanceOf[Double]),
      "tmp_entries_removed" -> tmp.removeOwn())
    java.nio.file.Files.write(new File(opt("out")).toPath,
      Json.write(full).getBytes(StandardCharsets.UTF_8))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.ui.retainedExecutions", 8L)
      .config("spark.ui.retainedJobs", 8L)
      .config("spark.ui.retainedStages", 8L)
      .config("spark.ui.retainedTasks", 1000L)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The program's own session set-up, as its tools do it. */
  def setUp(s: SparkSession): Unit = {
    graft.util.Logs.muteBoundedWindowWarn()
    graft.util.Logs.muteUnpersistCheckpointWarn()
    graft.sql.functions.registerAll(s)
  }
}

object Run {
  val Repeats = 3
  // nominal unit lengths on 4 cores; they fix how many ops a run times
  val ServePassSeconds = 5.0
  val GatePassSeconds = 30.0

  /** Heap still in use after full collections: what the driver retains.
    * The pause lets Spark's cleaner drop the blocks of frames the first
    * collection freed. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One run of one workload: set-up (its repeated step timed three times),
  * a warm-up, and the timed loop; a traced run also traces the set-up ops
  * and alternates untraced and traced passes, then runs the layer probes. */
final class Run(ctx: Ctx, seconds: Double, trace: Boolean, tmp: TmpWatch) {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var retainedHeapMb = 0.0
  private val tracer: Option[Tracer] = if (trace) Some(new Tracer(ctx.spark)) else None
  private val tctx = ctx.copy(tracer = tracer)

  /** Runs `f` with the trace listeners attached (a traced run only). */
  private def traced[T](f: => T): T = tracer match {
    case Some(t) => t.attach(); try f finally t.detach()
    case None => f
  }

  /**
   * The timed loop. It runs whole passes over the specs, and a fixed number
   * of them — round(seconds / unitSeconds), at least one — so every run
   * times the same ops at the same point of the JVM's warm-up. When traced,
   * untraced and traced passes alternate, so the difference between the two
   * is the tracing overhead.
   */
  private def measure(mkSpecs: Ctx => IndexedSeq[OpSpec], unitSeconds: Double)
      : (Seq[Sample], Seq[Sample]) = {
    val specs = mkSpecs(ctx)
    val passes = math.max(1L, math.round(seconds / unitSeconds)).toInt
    val result = if (!trace) (Loop.closed(ctx, specs, passes * specs.size, tmp), Nil) else {
      val tspecs = mkSpecs(tctx)
      val runs = (0 until passes).map { _ =>
        (Loop.closed(ctx, specs, specs.size, tmp), traced(Loop.closed(tctx, tspecs, tspecs.size, tmp)))
      }
      (runs.flatMap(_._1), runs.flatMap(_._2))
    }
    retainedHeapMb = Run.retainedHeapMb()
    result
  }

  /** Counts every sample as attempted; a thrown op or a wrong answer fails. */
  private def check(samples: Seq[Sample])(ok: Sample => Boolean): Unit = samples.foreach { s =>
    attempted += 1
    val good = s.ok && (try ok(s) catch { case _: Throwable => false })
    if (!good) failures += s"${s.kind}:${s.key}:${Option(s.error).getOrElse("wrong answer")}"
  }

  private def byKind(samples: Seq[Sample], group: Sample => String): Map[String, Seq[Double]] =
    samples.groupBy(group).map { case (k, v) => k -> v.map(_.ms) }

  /** Record fields every workload shares. `setup` holds the set-up parts in
    * seconds; `group` names an op's type. */
  private def common(setup: Map[String, Double], plain: Seq[Sample], tracedOps: Seq[Sample],
                     setupOps: Seq[Sample], group: Sample => String, extraLayers: Map[String, Double],
                     detail: Map[String, Any]): Map[String, Any] = {
    val kinds = byKind(plain, group)
    val latency = kinds.map { case (k, ms) =>
      k -> (Map("n" -> ms.size, "p50_ms" -> Stats.median(ms)) ++
        Stats.tail(ms).map { case (p, v) => Map("tail_pct" -> p, "tail_ms" -> v) }.getOrElse(Map.empty))
    }
    val base = Map[String, Any](
      "setup" -> setup, "prepare_s" -> setup.values.sum,
      "retained_heap_mb" -> retainedHeapMb,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "op_p50_ms" -> Stats.mean(kinds.values.map(Stats.median).toSeq),
      "ops_per_s" -> plain.size * 1000.0 / plain.map(_.ms).sum,
      "latency_by_type" -> latency,
      "samples" -> plain.map(s => Map("kind" -> s.kind, "key" -> s.key, "ms" -> s.ms, "ok" -> s.ok)),
      "tmp_left_by_op" -> plain.filter(_.tmpLeft > 0).map(s => Map("key" -> s.key, "entries" -> s.tmpLeft)),
      "detail" -> detail)
    tracer.fold(base)(t => base ++ Layers.record(ctx, t, plain, tracedOps, setupOps, group, extraLayers))
  }

  def geoServe(): Map[String, Any] = {
    // set-up 1: ingest a seeded wifi-layout TSV into a geohash layout, three
    // times; the median is the set-up figure, and every layout is checked
    val tsv = new File(ctx.work, "points.tsv")
    val (expected, tsvMs) = Stats.timeMs(GeoIngest.writeTsv(ctx.seed, tsv))
    val ictx = if (trace) tctx else ctx
    val ingests = traced(Loop.closed(ictx, IndexedSeq(GeoIngest.spec(ictx, tsv, ctx.work)), Run.Repeats, tmp))
    var stored = 0L
    check(ingests) { s =>
      val out = s.out.get.answer.asInstanceOf[File]
      val (keys, n) = GeoIngest.storedKeys(ctx, out)
      stored = n
      n == expected.size && keys == expected
    }
    val ingestOut = ingests.flatMap(_.out)
    ingestOut.foreach(o => Files.deleteTree(o.answer.asInstanceOf[File]))
    // set-up 2: the serving table, written once with the program's layout
    val layout = new File(ctx.work, "serving")
    val layoutMs = Stats.timeMs(GeoServe.writeLayout(ctx, layout))._2
    val points = ctx.spark.read.parquet(layout.getPath)
    val warmupMs = Stats.timeMs {
      val specs = GeoServe.specs(ctx, points)
      Loop.closed(ctx, specs, specs.size, tmp)
    }._2
    val (plain, tracedOps) = measure(c => GeoServe.specs(c, points), Run.ServePassSeconds)
    val all = plain ++ tracedOps
    val (oracle, oracleMs) = Stats.timeMs(
      GeoServe.oracle(ctx, points, all.map(s => (s.kind, s.key)).toSet))
    check(all)(s => GeoServe.matches(oracle((s.kind, s.key)), s.out.get.answer))
    val (files, dirs, bytes) = Files.footprint(layout)
    val rows = points.count()
    val knnWidened = tracer.map(Layers.widenedKnn)
    val ingestS = Stats.median(ingests.map(_.ms)) / 1000.0
    val dropRatio = 1.0 - expected.size.toDouble / GeoIngest.Rows
    common(Map("tsv_s" -> tsvMs / 1000.0, "ingest_median_s" -> ingestS,
        "layout_s" -> layoutMs / 1000.0, "warmup_s" -> warmupMs / 1000.0),
      plain, tracedOps, ingests, _.kind,
      Map("knn.widen_ratio" -> knnWidened.map(_._1).getOrElse(0.0),
        "ingest.dedup_drop_ratio" -> dropRatio,
        "ingest.files_written" -> Stats.median(ingestOut.map(_.filesWritten.toDouble)),
        "ingest.bytes_written" -> Stats.median(ingestOut.map(_.bytesWritten.toDouble))),
      Map("oracle_s" -> oracleMs / 1000.0, "points" -> rows, "layout_files" -> files,
        "layout_dirs" -> dirs, "stored_bytes_per_point" -> bytes.toDouble / rows,
        "queries" -> Map("within_polygons" -> Polygons.generate(ctx.seed).size,
          "knn_origins" -> GeoServe.origins(ctx.seed).size, "knn_k" -> GeoServe.K,
          "topx_params" -> GeoServe.TopX.size),
        "knn_widen_ratio" -> knnWidened.map(_._1).orNull,
        "knn_widen_by_origin" -> knnWidened.map(_._2).orNull,
        "ingest" -> Map("tsv_rows" -> GeoIngest.Rows, "stored_rows" -> stored,
          "ops_s" -> ingests.map(_.ms / 1000.0),
          "ingest_rows_per_s" -> GeoIngest.Rows / ingestS,
          "stored_bytes_per_point" -> Stats.median(ingestOut.map(_.bytesWritten.toDouble)) / stored,
          "dedup_drop_ratio" -> dropRatio,
          "files_written" -> ingestOut.map(_.filesWritten), "dirs_written" -> ingestOut.map(_.dirsWritten),
          "tsv_bytes" -> tsv.length())))
  }

  def pipelineGates(data: File): Map[String, Any] = {
    val prepS = (0 until Run.Repeats).map(_ => Stats.timeMs(Gates.Tables.foreach(t =>
      ctx.spark.read.parquet(new File(data, s"$t.parquet").getPath).schema))._2 / 1000.0)
    val results = new File(ctx.work, "gate-results")
    val (plain0, traced0) = measure(c => Gates.specs(c, data, results), Run.GatePassSeconds)
    // the rows each op wrote, read back after the timed loop
    def withRows(ss: Seq[Sample]) = ss.map { s =>
      s.copy(out = s.out.map(o => o.copy(rows = ctx.spark.read.parquet(o.answer.toString).count())))
    }
    val plain = withRows(plain0)
    val tracedOps = withRows(traced0)
    val all = plain ++ tracedOps
    // a gate that threw fails here; the rows are checked by the DuckDB replay
    check(all)(_ => true)
    val passes = plain.grouped(Gates.List.size).map(_.map(_.ms).sum / 1000.0).toSeq
    val perGate = byKind(plain, _.key).map { case (g, ms) => s"pipeline.${g}_s" -> Stats.median(ms) / 1000.0 }
    common(Map("open_tables_median_s" -> Stats.median(prepS)),
      plain, tracedOps, Nil, _.key,
      Map("ingest.dedup_drop_ratio" -> 0.0, "ingest.files_written" -> 0.0, "ingest.bytes_written" -> 0.0),
      Map("gate_suite_s" -> Stats.median(passes), "passes" -> passes.size,
        "gate_s" -> perGate,
        "tmp_dirs_left_by_gate" -> byKind(plain, _.key).keys.map(g =>
          g -> plain.filter(_.key == g).map(_.tmpLeft).sum).toMap,
        "results" -> all.filter(_.ok).groupBy(_.key).map { case (g, ss) =>
          g -> ss.map(s => Map("dir" -> s.out.get.answer, "rows" -> s.out.get.rows)) },
        "oracle_sql" -> Gates.List.map(g => g -> SparkEntry.oracleSql(g)).toMap,
        "tables" -> Gates.Tables))
  }
}
