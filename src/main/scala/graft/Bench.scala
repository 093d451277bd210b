package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/**
 * Benchmark main: one timed loop over named entries.
 *
 * Entries: each `SparkEntry.gates` gate times `query(spark, dir).count()`;
 * seven `ev_*` evidence entries measure claims no single gate shows, check
 * them with `require` and record their non-timing fields under their own
 * name. `SPARK_GRAFT_ONLY=a,b` selects entries by name, gates or evidence.
 *
 * Runs: every entry runs `SPARK_GRAFT_RUNS` times (default 3) in an order
 * rotated on each run, and the record keeps each entry's median: single
 * samples under host contention have been up to 8× off controlled re-runs.
 * An entry that throws is named in `failures` and the run goes on. One
 * untimed gate first absorbs session and codegen startup.
 *
 * Calibration: a fixed CPU-bound job ([[calibSec]]) is timed at the start,
 * between the base and sf1 passes and at the end (`drift.calib_sec`), so
 * host-speed swings (same-code totals have moved 29 % between runs) can be
 * divided out of comparisons (`tools/compare_bench.py`).
 *
 * sf1: unless `SPARK_GRAFT_SCALE_SF1=false`, [[graft.tools.ScaleUp]] writes
 * a 10× copy of the data and the same loop times every gate on it. All a
 * run writes lies under one temp directory, deleted however the run ends.
 *
 * Output: one JSON record, written to `BENCH_DETAIL.json` (tmp file plus
 * rename) and printed as the last stdout line, with `queries` (medians),
 * `runs`, `runs_detail`, `queries_spread` ([min, median, max]),
 * `failures`, one object per evidence entry, `sf1_runs` / `sf1_medians` /
 * `sf1_runs_detail` and `drift`. Then, as `Verify` does, the process exits
 * 1 with `[bench] FAILED: <names>` on stderr when any entry threw.
 */
object Bench {

  /** One timed unit: `run` returns the fields to record under `name`. */
  final case class Entry(name: String, run: () => JObject)

  /** Each run's (name, seconds) in execution order, the names that threw
    * and each entry's fields from its last clean run. */
  final case class Timings(runs: Seq[Seq[(String, Double)]], failures: Seq[String],
                           fields: Seq[(String, JObject)])

  /** Times every entry `n` times. */
  def timeAll(spark: SparkSession, entries: Seq[Entry], n: Int): Timings = {
    require(n >= 1, s"runs must be at least 1, got $n")
    val failures = scala.collection.mutable.LinkedHashSet.empty[String]
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, JObject]
    val runs = (0 until n).map { i =>
      // ROTATE the order on each run: with a fixed order every run times an
      // entry at the same JVM-state position, so warmup and GC drift
      // correlate into per-entry spreads (up to 1.6× within one run of the
      // suite). Rotation decorrelates position from entry, so the median
      // absorbs drift instead of inheriting it.
      val off = i * entries.size / n
      (entries.drop(off) ++ entries.take(off)).map { e =>
        val t0 = System.nanoTime()
        try {
          val f = e.run()
          if (f.obj.nonEmpty) fields(e.name) = f
        } catch { case t: Throwable =>
          failures += e.name
          System.err.println(s"[bench] ${e.name} failed: ${t.getMessage}")
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // outside the timed window: see Session.release
        Session.release(spark)
        e.name -> elapsed
      }
    }
    Timings(runs, failures.toSeq, fields.toSeq)
  }

  /** The gate entries for data directory `dir`, by name. */
  def gateEntries(spark: SparkSession, dir: String): Seq[Entry] =
    SparkEntry.gates.sortBy(_.name).map { g =>
      Entry(g.name, () => { g.query(spark, dir).count(); JObject() })
    }

  /** The evidence entries over `sfDir`, writing only under `scratch`. */
  def evidenceEntries(spark: SparkSession, sfDir: String, scratch: Path): Seq[Entry] = {
    import graft.pipeline.{Dedup, Similarity, TextAnalysis}
    import graft.sources.Tables
    import graft.gates.Fixtures.firstVector
    def table(name: String) = Tables.table(spark, sfDir, name)
    def under(name: String): String = scratch.resolve(name).toString
    def distinctFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    def recalls(sweep: Seq[(Int, Double)]) =
      rounded(sweep.map { case (np, r) => s"nprobe$np" -> r })

    Seq(
      // delivered recall of the one gate with no SQL oracle
      // (q_embed_topk_ivf, honestly approximate), with the gate's config
      Entry("ev_ivf_recall", () => {
        val embs = table("embeddings")
        val centroids = Similarity.ivfTrain(embs, nCells = 8, iters = 3)
        val q = firstVector(embs)
        // on an isotropic corpus probing nProbe of nCells cells recalls
        // ~nProbe/nCells; below that floor − ε the index, not the data, broke
        // (measured at nProbe 6/8: 0.80 at sf0.1, 1.00 at sf0.01)
        val floor = 6.0 / 8 - 0.05
        val sweep = Seq(1, 2, 4, 6).map(np =>
          np -> Similarity.ivfDeliveredRecall(embs, centroids, q, 10, nProbe = np))
        val r = sweep.last._2
        require(r >= floor,
          f"ivf delivered recall $r%.3f below machine-checked floor $floor%.3f (nProbe/nCells - 0.05)")
        // same centroids and query, so recall cannot fall as nprobe grows
        // (probing more cells only adds candidates): a dip is an index bug
        val curve = sweep.map(_._2)
        require(curve.zip(curve.tail).forall { case (a, b) => b >= a },
          s"ivf recall not monotone in nprobe: ${curve.mkString(",")}")
        // no coarse quantizer beats nProbe/nCells on an isotropic corpus, so
        // the curve above measures the data. To gate the OPERATOR, plant 8
        // separated clusters (a per-cluster axis shift) and require the
        // k-means codebook to reach recall 0.8 by nprobe 4: real corpora cluster.
        val clustered = embs.selectExpr("vec_id",
          "transform(embedding, (x, i) -> CAST(x + IF(i = CAST(vec_id % 8 AS INT), 6.0, 0.0) AS FLOAT)) AS embedding")
        val cCent = Similarity.ivfTrain(clustered, nCells = 8, iters = 5)
        val cq = firstVector(clustered)
        val cSweep = Seq(1, 2, 4).map(np =>
          np -> Similarity.ivfDeliveredRecall(clustered, cCent, cq, 10, nProbe = np))
        val cBy4 = cSweep.map(_._2).max
        require(cBy4 >= 0.8,
          f"clustered-corpus ivf recall $cBy4%.3f below 0.80 by nprobe 4 — the k-means " +
            "codebook failed to capture planted cluster structure (operator bug, not data)")
        ("recall" -> r) ~ ("floor" -> floor) ~ ("sweep" -> recalls(sweep)) ~
          ("sweep_clustered" -> recalls(cSweep)) ~ ("clustered_floor" -> 0.8)
      }),
      // the scan-avoidance lever: one within() polygon over gh_prefix
      // directory-partitioned vs naive parquet of the same points; the gap
      // in files and bytes is what partition pruning buys on the
      // distributed path, and the driver search's record what row-group
      // statistics buy on the partitioned layout
      Entry("ev_storage", () => {
        val rows = 2000000L
        val pts = graft.api.Gis.bulkIngest(spark, rows, -76.0, -75.0, 44.0, 45.0)
        // prefixLen 4 ≈ 0.35°×0.18° cells: the 1°×1° bbox splits into ~20
        // directories, so the polygon's prefixes prune most of them (len 3
        // would give this bbox only ~4 dirs — nothing to skip)
        graft.api.Gis.writePointsPartitioned(pts, under("store_part"), prefixLen = 4)
        pts.write.mode("overwrite").parquet(under("store_flat"))
        val poly = "POLYGON ((-75.52 44.42, -75.44 44.42, -75.44 44.36, -75.52 44.36, -75.52 44.42))"
        // the distributed plan (a zero row budget forces it): count through
        // an aggregate whose QueryExecution we keep, so the pruned scan's
        // planning-time listing gives the files/bytes touched
        def distributed(path: String): (Long, Long, Long) = {
          val agg = graft.api.Gis.withinSearch(spark.read.parquet(path), poly, rowBudget = 0)
            ._1.groupBy().count()
          val matched = agg.head().getLong(0)
          val (files, bytes) = agg.queryExecution.sparkPlan.collectLeaves().collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              val sel = f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
              (sel.map(_.files.size).sum.toLong, sel.flatMap(_.files).map(_.getLen).sum)
          }.getOrElse(throw new IllegalStateException(
            s"ev_storage: the distributed within over $path planned no file scan"))
          (matched, files, bytes)
        }
        val (mPart, fPart, bPart) = distributed(under("store_part"))
        val (mFlat, fFlat, bFlat) = distributed(under("store_flat"))
        val (local, rec) = graft.api.Gis.withinSearch(spark.read.parquet(under("store_part")), poly)
        require(rec.proved, s"ev_storage: the driver within fell back to the distributed plan: $rec")
        val mDriver = local.count()
        require(mPart == mFlat && mDriver == mPart,
          s"layout or path changed results: partitioned $mPart, flat $mFlat, driver $mDriver")
        ("rows" -> rows) ~ ("files_part" -> fPart) ~ ("files_flat" -> fFlat) ~
          ("bytes_part" -> bPart) ~ ("bytes_flat" -> bFlat) ~ ("matched" -> mPart) ~
          ("driver_row_groups" -> rec.rowGroups) ~
          ("driver_row_groups_read" -> rec.rowGroupsRead) ~
          ("driver_rows_read" -> rec.rowsRead)
      }),
      // the embedding analog of ev_storage: the same top-k through the
      // lsh_bucket-partitioned layout vs a flat scan, with the files a
      // one-bucket read touches
      Entry("ev_ann_storage", () => {
        val embs = table("embeddings")
        val path = under("emb_bucketed")
        Similarity.writeEmbeddingsBucketed(embs, path, planes = 6)
        val q = firstVector(embs)
        val stored = Similarity.cosineTopKLshStored(spark, path, q, 10, planes = 6)
          .collect().map(_.getLong(0)).toSet
        val brute = Similarity.cosineTopK(spark.read.parquet(path), q, 10)
          .collect().map(_.getLong(0)).toSet
        val all = spark.read.parquet(path)
        val qb = org.apache.spark.sql.graft.VecOps.signBucket(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(q), 6, 42L)
        ("files_total" -> distinctFiles(all)) ~
          ("files_one_bucket" -> distinctFiles(all.filter(col("lsh_bucket") === qb))) ~
          ("overlap_of_10" -> stored.intersect(brute).size)
      }),
      // the tokenizer loop end to end (train → broadcast → count) at bench
      // scale; the histogram collect is vocabulary-bounded and the count a
      // stateless scan
      Entry("ev_bpe", () => {
        val docs = table("documents")
        val merges = TextAnalysis.trainBpe(docs, numMerges = 200)
        val st = TextAnalysis.bpeState(spark, merges)
        val tokens = docs.select(TextAnalysis.tokenCountBpe(col("text"), st).cast("long").as("n"))
          .agg(sum(col("n"))).head().getLong(0)
        ("merges" -> merges.length) ~ ("tokens" -> tokens)
      }),
      // the persisted-index path: build the corpus minhash index once (the
      // compaction-cadence cost), then probe an arriving batch against it
      Entry("ev_incremental", () => {
        val docs = table("documents")
        val path = under("mh_index")
        Dedup.writeMinhashIndex(docs, path)
        val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L))
        val pairs = Dedup.dedupAgainstIndex(spark, path, batch, docs).count()
        val corpusRows = Tables.rowCount(spark, sfDir, "documents")
        ("pairs" -> pairs) ~ ("corpus_rows" -> corpusRows) ~ ("batch_rows" -> corpusRows / 10)
      }),
      // the trainer hand-off writer: shard count, and the planning-time
      // file pruning a single-shard read gets from the directory layout
      Entry("ev_shards", () => {
        val budget = 5000L
        val path = under("shards")
        TextAnalysis.writeTokenShards(table("documents").filter(col("text").isNotNull), path, budget)
        val back = spark.read.parquet(path)
        val shards = back.select(col("source"), col("pack_id")).distinct()
        val first = shards.orderBy(col("source"), col("pack_id")).head()
        ("budget_tokens" -> budget) ~ ("n_shards" -> shards.count()) ~
          ("files_total" -> distinctFiles(back)) ~
          ("files_one_shard" -> distinctFiles(back.filter(
            col("source") === first.getString(0) && col("pack_id") === first.get(1))))
      }),
      // a hot-key corpus (one user owns half of all rows, the worst case
      // for Window.partitionBy) through the unsalted and salted window
      // operators; the salted paths are exact rewrites, so counts must agree
      Entry("ev_skew", () => {
        val rows = 8000000L
        val ev = spark.range(rows).select(
          col("id").as("event_id"),
          when(col("id") < rows / 2, 0L)
            .otherwise(pmod(hash(col("id")), lit(100000)).cast("long")).as("user_id"),
          timestamp_micros(lit(1700000000000000L) +
            pmod(hash(col("id"), lit(7)), lit(86400000L)) * 1000L).as("ts"),
          when(pmod(col("id"), lit(5)) === 0, "error").otherwise("click")
            .as("event_type")).cache()
        val nS = graft.pipeline.EventAnalytics.sessionize(ev, 60000L).count()
        val nSs = graft.pipeline.EventAnalytics.sessionizeSalted(ev, 60000L).count()
        require(nS == nSs, s"salted sessionize diverged: $nS vs $nSs")
        val (errors, clicks) = graft.gates.EventsGates.errorsAndClicks(ev)
        val nA = graft.api.AsofJoin.asofJoin(errors, clicks,
          keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
          rightPayload = Seq("event_id"), rightIdCol = "event_id").count()
        val nAs = graft.api.AsofJoin.asofJoinSalted(errors, clicks,
          keyCol = "user_id", leftTsCol = "ts_ms", rightTsCol = "ts_ms",
          rightPayload = Seq("event_id"), rightIdCol = "event_id").count()
        require(nA == nAs, s"salted asof diverged: $nA vs $nAs")
        ("rows" -> rows) ~ ("hot_share" -> 0.5)
      })
    )
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `x` to 3 decimals. */
  private def num(x: Double): JDouble = JDouble(math.rint(x * 1000) / 1000)

  private def rounded(kvs: Seq[(String, Double)]): JObject =
    JObject(kvs.map { case (k, v) => JField(k, num(v)) }.toList)

  /** Each entry's samples across runs, by name. */
  private def samples(t: Timings): Seq[(String, Seq[Double])] =
    t.runs.flatten.groupMap(_._1)(_._2).toSeq.sortBy(_._1)

  private def medians(t: Timings): Seq[(String, Double)] =
    samples(t).map { case (k, v) => k -> median(v) }

  /** Host-drift calibration: a fixed CPU-bound job (200M xxhash64 + sum —
    * no I/O, no shuffle skew, deterministic plan) timed as the median of
    * 3 executions. A query regression that tracks the calibration ratio is
    * host contention; one that exceeds it is code. */
  private def calibSec(spark: SparkSession): Double = {
    def once(): Unit =
      // top halves only: 2e8 × 2^32 ≈ 8.6e17 keeps the ANSI sum in a long
      spark.range(200000000L)
        .select(shiftrightunsigned(xxhash64(col("id")), 32).as("h"))
        .agg(sum(col("h"))).head()
    // untimed ×3: absorb codegen AND C2 tier-up so point 1 measures the
    // host, not the JVM (a start point once read 0.174 s vs steady
    // 0.078 s — a 2.2× warmup artifact masquerading as drift)
    (1 to 3).foreach(_ => once())
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      once()
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** The record and the entries that threw: `gates(dir)` on `sfDir` (and on
    * the sf1 copy when `sf1`) and `evidence(scratch)` on `sfDir`, each
    * narrowed by `SPARK_GRAFT_ONLY`. */
  def run(spark: SparkSession, sfDir: String, n: Int, sf1: Boolean,
          gates: String => Seq[Entry], evidence: Path => Seq[Entry]): (JObject, Seq[String]) = {
    val t0 = System.nanoTime()
    def selected(es: Seq[Entry]) = es.filter(e => graft.gates.Gate.only.forall(_(e.name)))
    val scratch = Files.createTempDirectory("graft-bench")
    try {
      val calibStart = calibSec(spark)
      val base = timeAll(spark, selected(gates(sfDir) ++ evidence(scratch)), n)
      val calibMid = calibSec(spark)
      val sf1Runs = Option.when(sf1) {
        val sf1Dir = scratch.resolve("sf1").toString
        graft.tools.ScaleUp.run(spark, sfDir, sf1Dir, factor = 10)
        timeAll(spark, selected(gates(sf1Dir)), n)
      }
      val calibs = Seq(calibStart, calibMid, calibSec(spark))
      val failures = (base +: sf1Runs.toSeq).flatMap(_.failures).distinct
      val record = ("total_sec" -> num(medians(base).map(_._2).sum)) ~ ("sf" -> sfDir) ~
        ("runs" -> n) ~ ("queries" -> rounded(medians(base))) ~
        ("runs_detail" -> base.runs.map(rounded)) ~
        ("queries_spread" -> JObject(samples(base).map { case (k, v) =>
          JField(k, JArray(List(v.min, median(v), v.max).map(num)))
        }.toList)) ~
        ("failures" -> failures) ~ JObject(base.fields.toList) ~
        sf1Runs.fold(JObject())(t => ("sf1_runs" -> n) ~ ("sf1_medians" -> rounded(medians(t))) ~
          ("sf1_runs_detail" -> t.runs.map(rounded))) ~
        ("drift" -> ("calib_sec" -> calibs.map(num)) ~ ("max_ratio" -> num(calibs.max / calibs.min))) ~
        // counted log mutes (Logs): a future genuinely-unbounded window shows
        // as a count regression in the record instead of a muted logger
        ("window_warns_suppressed" -> graft.util.Logs.suppressedWindowWarns.get()) ~
        ("unpersist_warns_suppressed" -> graft.util.Logs.suppressedUnpersistWarns.get()) ~
        ("elapsed_sec" -> num((System.nanoTime() - t0) / 1e9))
      (record, failures)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SCALE_SF1", "true") != "false"
    val spark = Session.local("graft-bench")
    val (record, failures) =
      try {
        // warmup: session init + codegen paths
        SparkEntry.queries("q_agg_q1")(spark, sfDir).count()
        run(spark, sfDir, n, sf1, gateEntries(spark, _), evidenceEntries(spark, sfDir, _))
      } finally spark.stop()
    val line = compact(render(record))
    val tmp = Paths.get("BENCH_DETAIL.json.tmp")
    Files.writeString(tmp, line + "\n")
    Files.move(tmp, Paths.get("BENCH_DETAIL.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    println(line)
    if (failures.nonEmpty) {
      System.err.println(s"[bench] FAILED: ${failures.mkString(",")}")
      sys.exit(1)
    }
  }
}
