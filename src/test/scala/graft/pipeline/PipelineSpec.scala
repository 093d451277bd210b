package graft.pipeline

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkTestBase}
import graft.SparkTestBase.withTempDir
import graft.text.TextCore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  // --- dedup ---

  test("exact dedup: one group per distinct text") {
    val distinctTexts = docs.select("text").distinct().count()
    val got = Dedup.exact(docs, "doc_id", Seq("text"))
    assert(got.count() == distinctTexts)
    assert(got.agg(sum("n_dups")).head.getLong(0) == docs.count())
  }

  /** Corpus with planted near-duplicates: for every 5th doc, a copy with a
    * small edit appended; ids offset by 10000. */
  lazy val planted = {
    val mutated = docs.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 10000).as("doc_id"),
        concat($"text", lit(" xyzzy")).as("text"))
    docs.select("doc_id", "text").union(mutated).cache()
  }

  test("minhash LSH pairs: finds planted near-dups, all above threshold") {
    val pairs = Dedup.minhashLshPairs(planted, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // brute-force oracle
    val all = planted.collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = for {
      (ia, ta) <- all; (ib, tb) <- all
      if ia < ib
      j = TextCore.ngramJaccard(ta, tb, 5)
      if j >= 0.7
    } yield (ia, ib, j)
    val gotSet = pairs.map(p => (p._1, p._2)).toSet
    val bruteSet = brute.map(p => (p._1, p._2)).toSet
    assert(gotSet.subsetOf(bruteSet), "LSH produced a pair below threshold (verify failed)")
    assert(bruteSet.nonEmpty, "test fixture produced no near-dup pairs")
    val recall = gotSet.intersect(bruteSet).size.toDouble / bruteSet.size
    assert(recall >= 0.95, s"LSH recall $recall too low (${bruteSet.size} true pairs)")
    // jaccard values are the exact ones
    pairs.foreach { case (a, b, j) =>
      val ta = all.find(_._1 == a).get._2; val tb = all.find(_._1 == b).get._2
      assert(j == TextCore.ngramJaccard(ta, tb, 5))
    }
  }

  test("minhash LSH on the natural corpus (no planting) == brute force") {
    // sf0.001 documents contain generator-planted near-dups; verify the full
    // pipeline end-to-end on them without synthetic mutation
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ia, ta) <- all; (ib, tb) <- all
      if ia < ib && TextCore.ngramJaccard(ta, tb, 5) >= 0.8
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "corpus has no natural near-dups")
    assert(pairs.subsetOf(brute))
    val recall = pairs.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.95, s"recall $recall on ${brute.size} natural pairs")
  }

  test("ngram Jaccard prefix-filter pairs == brute force EXACTLY (planted)") {
    val pairs = Dedup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val all = planted.collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ia, ta) <- all; (ib, tb) <- all
      if ia < ib && TextCore.ngramJaccard(ta, tb, 5) >= 0.7
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "fixture produced no near-dup pairs")
    // exact operator: set EQUALITY, not recall
    assert(pairs.map(p => (p._1, p._2)).toSet == brute)
    pairs.foreach { case (a, b, j) =>
      val ta = all.find(_._1 == a).get._2; val tb = all.find(_._1 == b).get._2
      assert(j == TextCore.ngramJaccard(ta, tb, 5))
    }
  }

  test("ngram Jaccard pairs exact on the natural corpus at multiple thresholds") {
    val all = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    for (t <- Seq(0.5, 0.8, 0.95)) {
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = (for {
        (ia, ta) <- all; (ib, tb) <- all
        if ia < ib && TextCore.ngramJaccard(ta, tb, 5) >= t
      } yield (ia, ib)).toSet
      assert(got == brute, s"threshold $t: got ${got.size} vs brute ${brute.size}")
    }
  }

  private def bruteContainment(all: Seq[(Long, String)],
                               tPermille: Int): Map[(Long, Long), Long] = {
    val sets = all.map { case (id, t) =>
      id -> TextCore.shingleHashes(t, 5).toSet }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia < ib && sa.nonEmpty && sb.nonEmpty
      inter = (sa intersect sb).size.toLong
      mn = math.min(sa.size, sb.size).toLong
      if 1000L * inter >= tPermille * mn
    } yield (ia, ib) -> 1000L * inter / mn).toMap
  }

  test("containmentPairs == brute force EXACTLY (planted + natural corpora)") {
    for ((corpus, t) <- Seq((docs, 800), (planted, 700))) {
      val got = Dedup.containmentPairs(corpus, "doc_id", "text",
        thresholdPermille = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val brute = bruteContainment(
        corpus.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))), t)
      assert(brute.nonEmpty, "fixture produced no containment pairs")
      assert(got == brute, s"t=$t: got ${got.size} vs brute ${brute.size}")
      // all three verify paths agree bit for bit: auto (default, counts
      // the input), explicit-hint broadcast, and forced shuffle_hash
      val bcast = Dedup.containmentPairs(corpus, "doc_id", "text",
        thresholdPermille = t, corpusSizeHint = corpus.count())
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(bcast == brute, s"t=$t broadcast-verify path diverged")
      val shuf = Dedup.containmentPairs(corpus, "doc_id", "text",
        thresholdPermille = t, corpusSizeHint = -1L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(shuf == brute, s"t=$t forced-shuffle verify path diverged")
    }
  }

  test("containmentPairs: volume guard caps a degenerate shuffle-path corpus with recorded drops") {
    // a replica-degenerate corpus (every doc one of 4 templates) on the
    // FORCED shuffle path with a tiny byte budget: the run must COMPLETE,
    // emit a SUBSET of the unguarded pairs, and record the drop in the
    // observation — the sf10 ENOSPC scenario in miniature
    val corpus = spark.range(80).selectExpr("id AS doc_id",
      "concat('template body text number ', CAST(id % 4 AS STRING), " +
        "' with shared boilerplate tail') AS text")
    val full = Dedup.containmentPairs(corpus, "doc_id", "text",
      thresholdPermille = 800, corpusSizeHint = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-template pairs are a floor: templates differ by one char, so
    // many CROSS-template pairs clear 800‰ too — degenerate by design
    assert(full.size >= 4 * (20 * 19 / 2), "replica corpus should pair within templates")
    // this fixture's volume histogram is exactly two bins — gdf=20
    // (template-digit grams, 8,000 candidates) and gdf=80 (boilerplate
    // grams, 38,400) — so an ~8 MiB budget (~9k pairs at ~920 B each)
    // keeps the rare bin and drops the common one: a PARTIAL drop, the
    // realistic guard firing (a total drop would also let AQE's
    // empty-relation propagation prune the observe node away)
    val obs = new org.apache.spark.sql.Observation()
    val guarded = Dedup.containmentPairs(corpus, "doc_id", "text",
      thresholdPermille = 800, corpusSizeHint = -1L,
      metrics = Some(obs), maxVerifyBytes = 8L << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded.subsetOf(full), "guard must never invent pairs")
    assert(guarded.nonEmpty, "rare-gram routes must survive the cut")
    assert(guarded.size < full.size, "tight budget must actually drop candidates")
    val m = obs.get
    assert(m("guard_total_candidates").asInstanceOf[Long] >
      m("guard_kept_candidates").asInstanceOf[Long],
      s"drops must be recorded in the metrics: $m")
    // a roomy budget on the same forced-shuffle path changes nothing
    val roomy = Dedup.containmentPairs(corpus, "doc_id", "text",
      thresholdPermille = 800, corpusSizeHint = -1L, maxVerifyBytes = 16L << 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(roomy == full, "guard must be a no-op under budget")
  }

  test("guardCutoff: contiguous prefix, breaks at the first over-budget bucket") {
    // the ENOSPC regression shape: a cheap bin, a huge middle bin, then a
    // small tail bin that WOULD fit the residual budget — the cutoff must
    // stop at the middle bin, not skip it and land on the tail (which
    // would keep the huge bin too, since the cap keeps all gdf <= cutoff)
    val hist = Seq((2L, 100L), (40L, 1000000L), (568L, 50L))
    val (cutoff, cum) = Dedup.guardCutoff(hist, budgetPairs = 500L)
    assert(cutoff == 2L, s"must break at the over-budget bin, got $cutoff")
    assert(cum == 100L)
    // all-fit: cutoff = last bin, cum = total
    assert(Dedup.guardCutoff(hist, 2000000L) == ((568L, 1000150L)))
    // nothing fits: floor cutoff 1 (kept set empty via the >= 2 bucket floor)
    assert(Dedup.guardCutoff(hist, 10L) == ((1L, 0L)))
  }

  test("containmentPairs catches the quote-in-long-doc case Jaccard misses") {
    // doc 2 embeds doc 1 verbatim inside ~9× unrelated padding: containment
    // of the smaller side is ~1000‰ while Jaccard collapses to ~0.1
    val rnd = new scala.util.Random(77)
    def prose(n: Int) = (0 until n).map(_ =>
      ('a' + rnd.nextInt(26)).toChar).mkString
    val quote = prose(300)
    val corpus = Seq(
      (1L, quote),
      (2L, prose(1400) + quote + prose(1400)),
      (3L, prose(900))).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(corpus, "doc_id", "text",
      thresholdPermille = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cont.contains((1L, 2L)), "contained quote not found")
    assert(cont((1L, 2L)) >= 900L)
    assert(!cont.contains((1L, 3L)) && !cont.contains((2L, 3L)))
    // the Jaccard operator at 0.8 does NOT report this pair — the
    // asymmetric operator exists precisely for it
    val jacc = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jacc.contains((1L, 2L)))
  }

  test("containmentPairs: threshold boundary is closed, validation rejects bad t") {
    // sets: A = 10 grams, B ⊇ 8 of them ⇒ containment exactly 800‰ —
    // a pair AT the threshold must be kept (boundary-closed, the geohash
    // half-open lesson)
    val a = "abcdefghijklmn" // 10 distinct 5-grams
    val b = "abcdefghijkl" + "zzzzzqqqqq" // first 8 grams of a + noise
    val corpus = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val sa = TextCore.shingleHashes(a, 5).toSet
    val sb = TextCore.shingleHashes(b, 5).toSet
    val inter = (sa intersect sb).size
    val mn = math.min(sa.size, sb.size)
    val tExact = (1000 * inter / mn).toInt
    assert(1000 * inter % mn == 0, s"fixture not exactly at threshold: $inter/$mn")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text",
      thresholdPermille = tExact)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.get((1L, 2L)).contains(tExact.toLong))
    // one permille above the exact ratio excludes it
    val above = Dedup.containmentPairs(corpus, "doc_id", "text",
      thresholdPermille = tExact + 1).count()
    assert(above == 0L)
    intercept[IllegalArgumentException](
      Dedup.containmentPairs(corpus, "doc_id", "text", thresholdPermille = 0))
    intercept[IllegalArgumentException](
      Dedup.containmentPairs(corpus, "doc_id", "text", thresholdPermille = 1001))
  }

  test("fused-bucket ngram pairs == flat pipeline (all modes, both corpora)") {
    for (corpus <- Seq(docs, planted); t <- Seq(0.7, 0.8)) {
      def run(mode: String, hint: Long = 0L) =
        Dedup.ngramJaccardPairsFused(corpus, "doc_id", "text", threshold = t,
          corpusSizeHint = hint, mode = mode)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val flat = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(run("auto") == flat, s"fused(auto) != flat at t=$t")
      assert(run("bitset") == flat, s"fused(bitset) != flat at t=$t")
      assert(run("array", hint = 1000L) == flat, s"fused(array bcast) != flat at t=$t")
      assert(run("array") == flat, s"fused(array shuffle) != flat at t=$t")
    }
  }

  test("suffix-filtered array mode == unfiltered (exactness; opt-in probe)") {
    for (corpus <- Seq(docs, planted); t <- Seq(0.7, 0.8)) {
      def run(depth: Int) =
        Dedup.ngramJaccardPairsFused(corpus, "doc_id", "text", threshold = t,
          mode = "array", suffixFilterDepth = depth)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(run(3) == run(0), s"suffix filter changed results at t=$t")
    }
  }

  test("symmDiffLowerBound is a valid lower bound (property, random sets)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.TextOps
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 300) {
      val a = (0 until 400).filter(_ => rnd.nextDouble() < 0.3).map(_.toLong).toArray
      val b = (0 until 400).filter(_ => rnd.nextDouble() < 0.3).map(_.toLong).toArray
      val trueDiff = (a.toSet.diff(b.toSet) ++ b.toSet.diff(a.toSet)).size
      for (d <- 0 to 4) {
        val lb = TextOps.symmDiffLowerBound(new GenericArrayData(a), 0, a.length,
          new GenericArrayData(b), 0, b.length, d)
        assert(lb <= trueDiff, s"depth $d: bound $lb exceeds true diff $trueDiff")
        assert(lb >= 0)
      }
      // unbounded depth is exact
      val exact = TextOps.symmDiffLowerBound(new GenericArrayData(a), 0, a.length,
        new GenericArrayData(b), 0, b.length, 64)
      assert(exact == trueDiff, s"exact probe $exact != $trueDiff")
    }
  }

  test("bitset Jaccard verify == sorted-array verify (property, random sets)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.TextOps
    val rnd = new scala.util.Random(7)
    val vocab = 500
    for (_ <- 1 to 300) {
      val a = (0 until vocab).filter(_ => rnd.nextDouble() < 0.3).toArray
      val shared = a.filter(_ => rnd.nextDouble() < 0.7)
      val b = (shared ++ (0 until vocab).filter(_ => rnd.nextDouble() < 0.1)).distinct.sorted.toArray
      val t = Seq(0.1, 0.5, 0.8)(rnd.nextInt(3))
      def bitsOf(xs: Array[Int]) = {
        val w = new Array[Long]((vocab + 63) / 64)
        xs.foreach(x => w(x >>> 6) |= 1L << (x & 63))
        new GenericArrayData(w)
      }
      def arrOf(xs: Array[Int]) = new GenericArrayData(xs.map(_.toLong).sorted)
      val viaBits = TextOps.bitsetJaccardAtLeast(bitsOf(a), bitsOf(b), a.length, b.length, t)
      val viaMerge = TextOps.sortedJaccardAtLeast(arrOf(a), arrOf(b), t)
      // both report the exact value when >= t, and any negative report must
      // agree with the other side's negativity
      if (viaBits >= t || viaMerge >= t)
        assert(viaBits == viaMerge, s"t=$t |a|=${a.length} |b|=${b.length}")
      else { assert(viaBits < t && viaMerge < t) }
    }
  }

  test("collect_bucket_capped drops over-cap buckets inside the aggregation") {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.graft.CollectBucketCapped
    def ce(e: org.apache.spark.sql.catalyst.expressions.Expression) = GraftShims.column(e)
    def ee(c: org.apache.spark.sql.Column) = GraftShims.expression(c)
    val rows = spark.range(100).select(
      (col("id") % 3).as("k"), col("id"),
      lit(5).as("sz"), lit(1).as("rk"), array(col("id")).as("payload"))
    val agg = rows.groupBy("k").agg(ce(CollectBucketCapped(
      ee(col("id")), ee(col("sz")), ee(col("rk")), ee(col("payload")), 10)
      .toAggregateExpression()).as("bucket"))
    val out = agg.select(col("k"), col("bucket.total").as("total"),
      size(col("bucket.items")).as("n")).collect()
    assert(out.length == 3)
    // every group has 33-34 rows > cap 10: items cleared, totals exact
    out.foreach { r =>
      assert(r.getLong(1) >= 33L && r.getLong(1) <= 34L)
      assert(r.getInt(2) == 0, "over-cap bucket must come back empty")
    }
    val small = spark.range(8).select(lit(0L).as("k"), col("id"),
      lit(5).as("sz"), lit(1).as("rk"), array(col("id")).as("payload"))
      .groupBy("k").agg(ce(CollectBucketCapped(
        ee(col("id")), ee(col("sz")), ee(col("rk")), ee(col("payload")), 10)
        .toAggregateExpression()).as("bucket"))
      .select(col("bucket.total"), size(col("bucket.items"))).head
    assert(small.getLong(0) == 8L && small.getInt(1) == 8)
  }

  test("tfidf top terms == brute-force ratio-idf ranking") {
    val got = TextAnalysis.tfidfTopTerms(docs).collect()
    val all = docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val n = all.length.toDouble
    val tf: Map[(Long, String), Long] = all.flatMap { case (id, t) =>
      t.toLowerCase.split("[^a-z]+").filter(_.length >= 3)
        .groupBy(identity).map { case (w, a) => ((id, w), a.length.toLong) }
    }.toMap
    val dfm = tf.keys.groupBy(_._2).map { case (w, ks) => (w, ks.size.toLong) }
    val expect = tf.groupBy(_._1._1).flatMap { case (id, m) =>
      m.toSeq.map { case ((_, w), c) => (w, c, dfm(w), c.toDouble * n / dfm(w)) }
        .sortBy { case (w, _, _, s) => (-s, w) }.take(5).zipWithIndex
        .map { case ((w, c, df, _), i) => ((id, i + 1L), (w, c, df)) }
    }
    assert(got.length == expect.size)
    got.foreach { r =>
      val (w, c, df) = expect((r.getLong(0), r.getLong(1)))
      assert(r.getString(2) == w && r.getLong(3) == c && r.getLong(4) == df)
    }
  }

  test("contaminationNgrams: planted leakage counted exactly, clean docs absent") {
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "someone saw the quick brown fox yesterday"), // shares: "the quick brown", "quick brown fox"
      (2L, "a completely different sentence entirely"),
      // distinct shared: "the quick brown", "quick brown fox", "brown fox
      // jumps" — the repeats collapse (distinct grams, not occurrences)
      (3L, "the quick brown fox jumps high and the quick brown fox runs"),
      // "ox jumps over": token grams differ from eval's ("fox jumps over")
      (4L, "ox jumps over")).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationNgrams(train, eval, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 2L, got)
    assert(got(3L) == 3L, got)
    assert(!got.contains(2L) && !got.contains(4L), got)
  }

  test("repetitionStats: planted repetitive doc counts exactly") {
    val fixture = Seq(
      (1L, "spam spam spam\nspam spam spam\nunique line\n\nspam spam spam"),
      (2L, "all lines differ\nhere too\nand here"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(fixture)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // doc 1: 4 non-empty lines, "spam spam spam" x3 -> 2 dups; word spam 9x of 11
    assert(got(1L) == ((4, 2, 9L, 11L, 3L)), got(1L))
    assert(got(2L) == ((3, 0, 2L, 7L, 6L)), got(2L)) // "here" twice of 7 words
    assert(got(3L) == ((0, 0, 0L, 0L, 0L)), got(3L))
  }

  test("sampleByTokenBudget: exclusive-cumsum keep rule, nesting across budgets") {
    val small = Sampling.sampleByTokenBudget(docs, Map("src0" -> 500L, "src1" -> 300L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // replicate: md5-order docs per source, keep while exclusive cumsum < budget
    val byId = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expected(budgets: Map[String, Long]) = (for {
      (src, budget) <- budgets.toSeq
      group = byId.filter(_._2 == src).sortBy(t => (md5hex(t._1.toString), t._1))
      picks = group.scanLeft((0L, None: Option[(Long, String, Long)])) {
        case ((cum, _), (id, s, text)) =>
          val n = text.trim.split("\\s+").length.toLong
          (cum + n, if (cum < budget) Some((id, s, n)) else None)
      }.flatMap(_._2)
      p <- picks
    } yield p).toSet
    assert(small.toSet == expected(Map("src0" -> 500L, "src1" -> 300L)), "keep rule diverged")
    assert(small.nonEmpty && small.map(_._2).toSet == Set("src0", "src1"),
      "unlisted sources must drop")
    // nesting: a bigger budget keeps a superset per source
    val big = Sampling.sampleByTokenBudget(docs, Map("src0" -> 2000L, "src1" -> 300L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(small.filter(_._2 == "src0").toSet.subsetOf(big.filter(_._2 == "src0").toSet))
  }

  test("mixWithEpochs: whole copies exact, fractional epoch thresholded, contiguous") {
    val got = Sampling.mixWithEpochs(docs, Map("src0" -> 2.0, "src1" -> 0.5, "src2" -> 1.25))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._2).view.mapValues(_.length).toMap
    val perDoc = got.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // epochs are contiguous 0..n-1 per doc
    perDoc.foreach { case ((id, _), eps) =>
      assert(eps == (0L until eps.length).toSeq, s"doc $id epochs $eps") }
    // src0 x2.0: every doc exactly twice
    assert(got.count(_._2 == "src0") == 2 * bySrc("src0"))
    // src1 x0.5 / src2 x1.25: whole part exact, fraction within 4 sigma
    def within(src: String, factor: Double): Unit = {
      val n = bySrc(src).toDouble
      val f = factor - math.floor(factor)
      val gotN = got.count(_._2 == src).toDouble
      val sigma = math.sqrt(n * f * (1 - f))
      assert(math.abs(gotN - factor * n) <= 4 * sigma + 1, s"$src: $gotN vs ${factor * n}")
    }
    within("src1", 0.5); within("src2", 1.25)
    assert(!got.exists(_._2 == "src3"), "unlisted source must drop")
    // determinism
    val again = Sampling.mixWithEpochs(docs, Map("src0" -> 2.0, "src1" -> 0.5, "src2" -> 1.25))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.sorted.toSeq == got.sorted.toSeq)
  }

  test("PQ: encode == brute argmin, ADC == table sum, recall measured") {
    val embs01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val m = 8
    val cbs = Similarity.pqCodebooks(embs01, m = m, nCodes = 16)
    val all = embs01.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val sub = all.head._2.length / m
    def sq(a: Array[Float], aOff: Int, b: Array[Float]): Double = {
      var d = 0.0; var j = 0
      while (j < sub) { val x = a(aOff + j).toDouble - b(j).toDouble; d += x * x; j += 1 }
      d
    }
    // encode matches a brute scala argmin (first-code tie-break)
    val encoded = Similarity.pqEncode(embs01, cbs)
      .select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    for ((id, v) <- all.take(50)) {
      val want = Array.tabulate(m)(s =>
        cbs(s).zipWithIndex.minBy { case (code, ci) => (sq(v, s * sub, code), ci) }._2)
      assert(encoded(id).toSeq == want.toSeq, s"vec $id")
    }
    // ADC top-k: scores equal the brute table-sum replica; order total
    val q = all.find(_._1 == 0L).get._2
    val table = Array.tabulate(m)(s => cbs(s).map(code => sq(q, s * sub, code)))
    val got = Similarity.pqTopK(embs01, cbs, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val bruteAdc = all.map { case (id, _) =>
      id -> encoded(id).zipWithIndex.foldLeft(0.0) { case (acc, (c, s)) => acc + table(s)(c) }
    }.toMap
    got.foreach { case (id, adc) => assert(adc == bruteAdc(id), s"vec $id adc") }
    assert(got.map(_._1).toSeq ==
      all.map(_._1).sortBy(id => (bruteAdc(id), id)).take(10).toSeq)
    // recall vs exact cosine top-10: PQ with 16 codes x 8 subspaces on an
    // isotropic corpus is coarse — record a sane floor, not a miracle
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = all.sortBy { case (id, v) => (-cos(v, q), id) }.take(10).map(_._1).toSet
    val recall = got.map(_._1).count(exact.contains).toDouble / 10
    assert(recall >= 0.2, s"PQ recall $recall collapsed (expected >= 0.2 incl. self)")
  }

  test("repetitionNgramStats: hand-fixture counts, overlap-once coverage, totality") {
    val fixture = Seq(
      (1L, "a bb a bb a"),            // top2 tie → greatest gram; no dup5
      (2L, "x y z w v x y z w v"),    // dup 5-gram covers all 10 tokens
      (3L, null.asInstanceOf[String]),
      (4L, "unique words only here")) // all grams unique, < 5 tokens
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionNgramStats(fixture, topNs = Seq(2, 3), dupNs = Seq(5))
      .select("doc_id", "n_word_chars", "top2_chars", "top3_chars", "dup5_chars")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // doc1: tokens [a,bb,a,bb,a]; "bb a"×2 wins the (count, gram) tie → 2×3;
    // "a bb a"×2 → 2×4; single 5-gram → no dup coverage
    assert(got(1L) == ((7L, 6L, 8L, 0L)))
    // doc2: "x y z w v" repeats at starts {0,5} → every token covered
    assert(got(2L) == ((10L, 4L, 6L, 10L)))
    // NULL text: present, all zero
    assert(got(3L) == ((0L, 0L, 0L, 0L)))
    // no repetition: top counts 1 × chars of the lexicographically greatest gram
    assert(got(4L) == ((19L, 9L, 13L, 0L)))
    // overlap counted once: "p q p q p q" — "p q"×3, "q p"×2 all overlapping;
    // dup2 coverage = all 6 tokens, not 10
    val overlap = Seq((1L, "p q p q p q")).toDF("doc_id", "text")
    val o = TextAnalysis.repetitionNgramStats(overlap, topNs = Seq(2), dupNs = Seq(2))
      .select("dup2_chars").head().getLong(0)
    assert(o == 6L)
  }

  test("dedupSentenceSpans: C4 three-sentence rule — cross-doc, in-doc, totality") {
    val fixture = Seq(
      (1L, "Intro one. Shared sent a. Shared sent b. Shared sent c. Outro one."),
      (2L, "Other intro. Shared sent a. Shared sent b. Shared sent c. Outro two."),
      (3L, "No punctuation here"),
      (4L, null.asInstanceOf[String]),
      (5L, "Dup in doc. Dup in doc. X. Dup in doc. Dup in doc. X. Tail."))
      .toDF("doc_id", "text")
    val got = Dedup.dedupSentenceSpans(fixture)
      .collect().map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2))))
      .toMap
    // doc1 keeps everything (it owns every keeper it participates in)
    assert(got(1L) == ((Some("Intro one. Shared sent a. Shared sent b. Shared sent c. Outro one."), 0L)))
    // doc2 loses the shared 3-sentence span (positions 1..3)
    assert(got(2L) == ((Some("Other intro. Outro two."), 3L)))
    // no sentences → untouched; NULL stays NULL with 0 removed
    assert(got(3L) == ((Some("No punctuation here"), 0L)))
    assert(got(4L) == ((None, 0L)))
    // within-doc doubled span: second occurrence (sentences 3..5) removed
    assert(got(5L) == ((Some("Dup in doc. Dup in doc. X. Tail."), 3L)))
  }

  test("repetitionRules: planted repetition fails, clean doc passes") {
    val clean = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (1L, "x y z w v x y z w v"), // dup 5-gram covers 100% ≫ 15%
      (2L, clean))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionRules(docs)
      .select("doc_id", "r_dup5", "passes")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((0L, 0L)))
    assert(got(2L) == ((1L, 1L)))
  }

  test("kmeansAssign == local Lloyd replica; partition-invariant") {
    val k = 4; val iters = 2; val scale = 1000
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // local replica of the documented trajectory
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val q = all.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * scale + 0.5).toLong)
    }.toMap
    val seeds = all.map(_._1).sortBy(id => (md5hex(id.toString), id)).take(k).sorted
    var cents = seeds.map(q)
    def dist(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    def assign(): Map[Long, (Long, Long)] = q.map { case (id, v) =>
      val (d, c) = cents.zipWithIndex.map { case (cv, j) => (dist(v, cv), j.toLong) }.min
      id -> ((c, d))
    }
    (1 to iters).foreach { _ =>
      val byCell = assign().toSeq.groupBy(_._2._1)
      cents = cents.indices.map { j =>
        byCell.get(j.toLong) match {
          case None => cents(j)
          case Some(members) =>
            val vs = members.map { case (id, _) => q(id) }
            val n = vs.length
            Array.tabulate(cents(j).length)(d => vs.map(_(d)).sum / n)
        }
      }.toArray
    }
    val want = assign().map { case (id, (c, d)) => (id, c, d) }.toSet
    val got = Similarity.kmeansAssign(embs, k = k, iters = iters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // partition layout cannot change the result
    val got7 = Similarity.kmeansAssign(embs.repartition(7), k = k, iters = iters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got7 == want)
    // bound violation is an explicit failure, never a silent wrap: ANSI
    // mode faults the arithmetic itself; the operator's own require
    // catches it (with the actionable message) in non-ANSI sessions
    val ex = intercept[Exception] {
      Similarity.kmeansAssign(embs, k = 2, iters = 1,
        quantScale = Int.MaxValue).collect()
    }
    assert(ex.getMessage.contains("int64 distance bound") ||
      ex.getMessage.contains("ARITHMETIC_OVERFLOW"))
  }

  test("SQ8: encode == brute replica, reconstruction bound, MIPS recall") {
    val embs01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val all = embs01.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val enc = Similarity.sq8Encode(embs01)
      .select("vec_id", "sq_scale", "sq_codes").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Byte](2).toArray))).toMap
    for ((id, v) <- all.take(50)) {
      val (m, codes) = enc(id)
      var mm = 0.0; v.foreach(x => mm = math.max(mm, math.abs(x.toDouble)))
      assert(m == mm, s"scale $id")
      val want =
        if (mm == 0.0) v.map(_ => 0: Byte)
        else v.map(x => math.floor(x.toDouble * 127.0 / mm + 0.5).toByte)
      assert(codes.toSeq == want.toSeq, s"codes $id")
      // reconstruction error is at most half a quantization step
      if (mm > 0) v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c * mm / 127.0) <= mm / 254.0 + 1e-12) }
    }
    // zero vector encodes to zero codes; NULL embedding stays NULL
    val edge = Seq((1L, Array(0f, 0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val eg = Similarity.sq8Encode(edge).select("vec_id", "sq_scale", "sq_codes")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getSeq[Byte](2).toSeq)))).toMap
    assert(eg(1L) == ((Some(0.0), Some(Seq(0: Byte, 0: Byte)))))
    assert(eg(2L) == ((None, None)))
    // top-k: scores equal the brute integer-dot rescale replica; recall vs
    // the exact float inner-product top-10 measures quantization loss only
    val q = all.find(_._1 == 0L).get._2
    var mq = 0.0; q.foreach(x => mq = math.max(mq, math.abs(x.toDouble)))
    val qc = q.map(x => math.floor(x.toDouble * 127.0 / mq + 0.5).toLong)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
      d
    }
    val got = Similarity.sq8TopK(embs01, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    got.foreach { case (id, s) =>
      val (m, codes) = enc(id)
      val idot = codes.zip(qc).map { case (a, b) => a.toLong * b }.sum
      assert(s == ((idot.toDouble * m) * mq) / 16129.0, s"score $id")
    }
    val exact = all.sortBy { case (id, v) => (-dot(v, q), id) }.take(10).map(_._1).toSet
    val recall = got.map(_._1).count(exact.contains).toDouble / 10
    assert(recall >= 0.6, s"SQ8 recall $recall vs exact MIPS")
  }

  test("IVF+PQ composed index: directory pruning + chain == brute replica") {
    val embs01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cents = Similarity.deterministicCentroids(embs01, nCells = 8)
    val cbs = Similarity.pqCodebooks(embs01, m = 8, nCodes = 16)
    withTempDir("graft_ivfpq") { tmp =>
      val path = tmp.toString
      Similarity.writeEmbeddingsIvfPq(embs01, path, cents, cbs)
      // the layout is cell-partitioned and stores codes, never vectors
      val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("ivf_cell=")).toSet
      assert(dirs.size >= 4, s"expected multiple cell dirs, got $dirs")
      assert(!spark.read.parquet(path).columns.contains("embedding"))
      val q = embs01.filter($"vec_id" === 0L).select("embedding").head()
        .getSeq[Float](0).toArray
      // probe touches only the probed cells' files
      val probed = Similarity.ivfPqTopK(spark, path, cents, cbs, q, 10, nProbe = 3)
      val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
      }.get
      val allFiles = new java.io.File(path).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
      val touched = scan.map(_.files.size).sum
      assert(touched < allFiles, s"probe must prune: touched $touched of $allFiles")
      // chain equals a brute Scala replica (assignment -> probe -> encode -> ADC)
      val all = embs01.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1 }
        if (na == 0 || nb == 0) 0 else d / (math.sqrt(na) * math.sqrt(nb))
      }
      val sub = 8
      def sq(a: Array[Float], off: Int, b: Array[Float]): Double = {
        var d = 0.0; var j = 0
        while (j < sub) { val x = a(off + j).toDouble - b(j).toDouble; d += x * x; j += 1 }
        d
      }
      val probes = cents.indices.sortBy(ci => (-cos(q, cents(ci)), ci)).take(3).toSet
      val table = Array.tabulate(8)(s => cbs(s).map(code => sq(q, s * sub, code)))
      val brute = all
        .filter { case (_, v) => probes(cents.indices.maxBy(ci => (cos(v, cents(ci)), -ci))) }
        .map { case (id, v) =>
          val adc = (0 until 8).foldLeft(0.0) { (acc, s) =>
            acc + table(s)(cbs(s).zipWithIndex
              .minBy { case (code, ci) => (sq(v, s * sub, code), ci) }._2)
          }
          (id, adc)
        }.sortBy { case (id, adc) => (adc, id) }.take(10).map(_._1).toSeq
      assert(probed.collect().map(_.getLong(0)).toSeq == brute)
    }
  }

  test("cosineTopKJoin: per-query results == brute-force top-k") {
    val queries = embs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val got = Similarity.cosineTopKJoin(queries, embs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    for (qid <- 0L until 3L) {
      val qv = all.find(_._1 == qid).get._2
      val brute = all.map { case (id, v) => (id, cos(v, qv)) }
        .sortBy(t => (-t._2, t._1)).take(5)
      val mine = got.filter(_._1 == qid).sortBy(t => (-t._3, t._2))
      assert(mine.map(_._2).toSeq == brute.map(_._1).toSeq, s"query $qid ids")
      // scores are the exact VecOps doubles (sortable-bits round trip)
      mine.zip(brute).foreach { case ((_, _, s), (_, bs)) => assert(s == bs) }
      assert(mine.head._2 == qid, s"query $qid must retrieve itself first")
    }
  }

  test("ivfTopKJoin: == probed-cell brute force; full probe == cosineTopKJoin") {
    val cents = Similarity.deterministicCentroids(embs, nCells = 4)
    val queries = embs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    // local replica: cell = strict-argmax first-win; probes = successive argmax
    def cellOf(v: Array[Float]): Int = {
      var best = 0; var bs = Double.NegativeInfinity
      for (c <- cents.indices) { val s = cos(v, cents(c)); if (s > bs) { bs = s; best = c } }
      best
    }
    def probesOf(v: Array[Float], nProbe: Int): Seq[Int] = {
      val scores = cents.indices.map(c => cos(v, cents(c)))
      val taken = scala.collection.mutable.Set[Int]()
      (0 until math.min(nProbe, cents.length)).map { _ =>
        val best = cents.indices.filterNot(taken).minBy(c => (-scores(c), c))
        taken += best; best
      }
    }
    val byCell = all.groupBy { case (_, v) => cellOf(v) }
    val got = Similarity.ivfTopKJoin(queries, embs, cents, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (qid <- 0L until 3L) {
      val qv = all.find(_._1 == qid).get._2
      val cand = probesOf(qv, 2).flatMap(c => byCell.getOrElse(c, Array.empty[(Long, Array[Float])]))
      val expect = cand.map { case (id, v) => (id, cos(v, qv)) }
        .sortBy(t => (-t._2, t._1)).take(5)
      val mine = got.filter(_._1 == qid).sortBy(t => (-t._3, t._2))
      assert(mine.map(_._2).toSeq == expect.map(_._1), s"query $qid ids")
      mine.zip(expect).foreach { case ((_, _, s), (_, bs)) => assert(s == bs) }
    }
    // probing every cell recovers the exact brute-force join bit-for-bit
    val full = Similarity.ivfTopKJoin(queries, embs, cents, k = 5, nProbe = cents.length)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, -t._3, t._2))
    val brute = Similarity.cosineTopKJoin(queries, embs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, -t._3, t._2))
    assert(full.toSeq == brute.toSeq)
  }

  test("semanticNearDupPairs: within-cluster exact, subset of brute force") {
    val embs01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val got = Similarity.semanticNearDupPairs(embs01, nClusters = 4, tau = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val all = embs01.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val brute = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.35
    } yield (ia, ib)).toSet
    val gotSet = got.map(p => (p._1, p._2)).toSet
    assert(brute.nonEmpty, "corpus has no >=0.35 cosine pairs")
    assert(gotSet.subsetOf(brute), "emitted a below-threshold or wrong pair")
    // within-cluster completeness: replicate the deterministic codebook +
    // argmax assignment; every brute pair co-located in a cluster must be
    // emitted (the only misses are cross-cluster — the SemDeDup trade)
    val cent = all.map { case (id, v) =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (md5, id, v)
    }.sortBy(t => (t._1, t._2)).take(4).map(_._3)
    val cellOf = all.map { case (id, v) =>
      id -> cent.indices.maxBy(i => (cos(v, cent(i)), -i))
    }.toMap
    val sameCell = brute.filter { case (a, b) => cellOf(a) == cellOf(b) }
    assert(sameCell.subsetOf(gotSet),
      s"missed ${(sameCell -- gotSet).take(3)} within-cluster pairs")
    assert(gotSet == sameCell, "emitted a cross-cluster pair")
  }

  test("dedupAgainstIndex: incremental pairs == brute-force cross-set pairs") {
    withTempDir("graft_mhidx") { tmp =>
      val dir = tmp.toString
      val batch = planted.filter($"doc_id" % 3 === 0)
        .select(($"doc_id" + 100000).as("doc_id"), $"text")
      Dedup.writeMinhashIndex(planted, dir)
      val got = Dedup.dedupAgainstIndex(spark, dir, batch, planted, threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val corpusAll = planted.collect().map(r => (r.getLong(0), r.getString(1)))
      val batchAll = batch.collect().map(r => (r.getLong(0), r.getString(1)))
      val brute = (for {
        (ib, tb) <- batchAll; (ic, tc) <- corpusAll
        j = TextCore.ngramJaccard(tb, tc, 5)
        if j >= 0.7
      } yield (ib, ic)).toSet
      val gotSet = got.map(p => (p._1, p._2)).toSet
      assert(brute.nonEmpty, "fixture produced no cross-set pairs")
      assert(gotSet.subsetOf(brute), "incremental emitted a below-threshold pair")
      // batch docs are verbatim corpus copies -> their self-pairs are certain
      // (identical sigs collide in every band); marginal ~0.7 pairs follow the
      // usual LSH detection curve, so bound recall like the batch-path test
      val selfPairs = batchAll.map { case (ib, _) => (ib, ib - 100000L) }.toSet
      assert(selfPairs.subsetOf(gotSet), "a verbatim-copy self-pair was missed")
      val recall = gotSet.intersect(brute).size.toDouble / brute.size
      assert(recall >= 0.95, s"incremental recall $recall too low (${brute.size} true pairs)")
      got.foreach { case (ib, ic, j) =>
        val tb = batchAll.find(_._1 == ib).get._2
        val tc = corpusAll.find(_._1 == ic).get._2
        assert(j == TextCore.ngramJaccard(tb, tc, 5))
      }
      // Bloom pre-screen differential: no false negatives → identical rows
      withTempDir("graft_bloom") { tmp =>
        val bloom = tmp.resolve("keys.bloom").toString
        Dedup.writeBloomIndex(spark, dir, bloom)
        val screened = Dedup.dedupAgainstIndex(spark, dir, batch, planted,
            threshold = 0.7, bloomPath = Some(bloom))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(screened == got.toSet, "Bloom screen changed results")
        // a genuinely novel batch is screened down to (near) nothing: keys of
        // unseen text should mostly miss the corpus-key filter
        val novel = Seq((1L, "totally novel text the corpus never saw qqq www eee"))
          .toDF("doc_id", "text")
        val novelPairs = Dedup.dedupAgainstIndex(spark, dir, novel, planted,
          threshold = 0.7, bloomPath = Some(bloom)).count()
        assert(novelPairs == 0L)
      }
    }
  }

  test("dedupLines: global first-occurrence line dedup with splice") {
    val fixture = Seq[(Long, String)](
      (1L, "common boilerplate header\nunique body of doc one\nshort"),
      (2L, "common boilerplate header\nunique body of doc two\ncommon boilerplate header"),
      (3L, "unique body of doc three\nrepeated internal line here\nrepeated internal line here"),
      (4L, "common boilerplate header"),
      (5L, null)).toDF("doc_id", "text")
    val got = Dedup.dedupLines(fixture).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2)))).toMap
    // doc 1 owns the first occurrence of the header; "short" is under minLen
    assert(got(1L) == ((Some("common boilerplate header\nunique body of doc one\nshort"), 0L)), got(1L))
    // both of doc 2's header copies drop (cross-doc AND later-position)
    assert(got(2L) == ((Some("unique body of doc two"), 2L)), got(2L))
    // in-doc duplicate: first kept, second removed
    assert(got(3L) == ((Some("unique body of doc three\nrepeated internal line here"), 1L)), got(3L))
    // every line removed -> empty string, not NULL
    assert(got(4L) == ((Some(""), 1L)), got(4L))
    // NULL in, NULL out with zero removals (totality contract)
    assert(got(5L) == ((None, 0L)), got(5L))
  }

  test("Provenance: URL extraction, domain normalization, blocklist flag") {
    val fixture = Seq[(Long, String)](
      (1L, "intro https://WWW.Example.COM:8080/path?q=1 more http://sub.site.org/x tail"),
      (2L, "dup https://example.com/a then https://example.com/b"),
      (3L, "no urls at all here"),
      (4L, null)).toDF("doc_id", "text")
    val got = Provenance.withDomains(fixture)
      .select("doc_id", "n_urls", "domains").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1),
          Option(r.getSeq[String](2)).map(_.toList)))).toMap
    // port stripped, www. stripped, case folded; duplicates collapse
    assert(got(1L) == ((2L, Some(List("example.com", "sub.site.org")))), got(1L))
    assert(got(2L) == ((2L, Some(List("example.com")))), got(2L))
    assert(got(3L) == ((0L, Some(Nil))), got(3L))
    assert(got(4L) == ((-1L, None)), got(4L)) // NULL text → NULL out
    val bl = Seq("sub.site.org").toDF("domain")
    val flagged = Provenance.flagBlocked(Provenance.withDomains(fixture), bl)
    val blocked = flagged.collect().map(r =>
      r.getLong(0) -> r.getAs[Long]("blocked")).toMap
    assert(blocked == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L), blocked)
    val plan = flagged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("dedupByUrl: canonical page key, min-id keeper, URL-less kept") {
    val fixture = Seq[(Long, String)](
      (1L, "see https://WWW.Example.com:8080/Page/#frag"),  // key example.com/page
      (2L, "see http://example.com/page"),                  // same page, http + bare
      (3L, "see https://example.com/page?q=1"),             // query kept → distinct
      (4L, "see https://example.com/page?q=1#other"),       // dup of 3 (fragment)
      (5L, "no urls here"),
      (6L, null)).toDF("doc_id", "text")
    val keys = fixture.select(col("doc_id"),
        Provenance.urlKey(col("text")).as("k"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(keys(1L) == "example.com/page", keys(1L))
    assert(keys(2L) == "example.com/page")
    assert(keys(3L) == "example.com/page?q=1")
    assert(keys(4L) == "example.com/page?q=1")
    assert(keys(5L) == null && keys(6L) == null)
    val got = Provenance.dedupByUrl(fixture)
      .select("doc_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 1L, 6L -> 1L), got)
  }

  test("dedupLinesAgainstIndex == batch dedupLines under id-ordered arrival") {
    val fixture = Seq[(Long, String)](
      (1L, "common boilerplate header\nunique body of doc one\nshort"),
      (2L, "common boilerplate header\nunique body of doc two\ncommon boilerplate header"),
      (3L, "unique body of doc three\nrepeated internal line here\nrepeated internal line here"),
      (4L, "common boilerplate header"),
      (5L, "unique body of doc five\ncommon boilerplate header\nbatch-only shared line"),
      (6L, "batch-only shared line\nunique body of doc six"),
      (7L, null)).toDF("doc_id", "text")
    val corpus = fixture.filter(col("doc_id") <= 4)
    val batch = fixture.filter(col("doc_id") > 4)
    withTempDir("graft-line-idx") { tmp =>
      val idx = tmp.toString
      Dedup.writeLineIndex(corpus, idx)
      val got = Dedup.dedupLinesAgainstIndex(spark, idx, batch).collect()
        .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2)))).toMap
      // every corpus id precedes every batch id, so the incremental result
      // must equal the from-scratch batch pass restricted to batch docs
      val full = Dedup.dedupLines(fixture).collect()
        .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2)))).toMap
      assert(got == full.filter(_._1 > 4), s"got=$got full=$full")
      // spot semantics: doc 5 loses the corpus-owned header, keeps the first
      // occurrence of the batch-only line; doc 6 loses it (doc 5 saw it first)
      assert(got(5L) == ((Some("unique body of doc five\nbatch-only shared line"), 1L)))
      assert(got(6L) == ((Some("unique body of doc six"), 1L)))
      assert(got(7L) == ((None, 0L))) // NULL totality
    }
  }

  test("gopherRules: each rule trips on its planted violation only") {
    val good = (1 to 60).map(i => s"word$i is on the list").mkString(" ") // 300 words, 3 stopwords, all alpha
    val fixture = Seq(
      (1L, good),
      (2L, "too short to pass the word count rule here"), // < 50 words
      (3L, (1 to 60).map(_ => "aa").mkString(" ") + " the is"), // mean word len 2
      (4L, good + " " + (1 to 30).map(_ => "###").mkString(" ")), // hash soup
      (5L, good + "\n" + (1 to 20).map(i => s"- bullet $i").mkString("\n")), // all-bullet tail
      (6L, good + "\n" + (1 to 20).map(i => s"line $i trails off...").mkString("\n")),
      (7L, (1 to 60).map(i => s"${i}23 4567 8901").mkString(" ") + " the is"), // numeric words
      (8L, (1 to 60).map(i => s"zebra$i quokka").mkString(" "))) // no stopwords
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(fixture, minWords = 50)
      .collect().map(r => r.getLong(0) -> r.getValuesMap[Long](Seq(
        "r_word_count", "r_mean_word_len", "r_symbol_ratio", "r_bullet_lines",
        "r_ellipsis_lines", "r_alpha_words", "r_stopwords", "passes"))).toMap
    assert(got(1L).values.forall(_ == 1L), got(1L))
    assert(got(2L)("r_word_count") == 0L && got(2L)("passes") == 0L, got(2L))
    assert(got(3L)("r_mean_word_len") == 0L && got(3L)("passes") == 0L, got(3L))
    assert(got(4L)("r_symbol_ratio") == 0L && got(4L)("passes") == 0L, got(4L))
    assert(got(5L)("r_bullet_lines") == 0L && got(5L)("passes") == 0L, got(5L))
    assert(got(6L)("r_ellipsis_lines") == 0L && got(6L)("passes") == 0L, got(6L))
    assert(got(7L)("r_alpha_words") == 0L && got(7L)("passes") == 0L, got(7L))
    assert(got(8L)("r_stopwords") == 0L && got(8L)("passes") == 0L, got(8L))
    // violations are isolated: every doc trips ONLY its planted rule (doc 3's
    // filler is alpha-only so other flags hold; doc 4 keeps enough real words)
    for ((id, flags) <- got if id >= 2L)
      assert(flags.values.count(_ == 0L) == 2, s"doc $id trips extra rules: $flags")
  }

  test("dedupParagraphs: first-occurrence keep at paragraph granularity") {
    val shared = "this exact paragraph appears in several documents"
    val fixture = Seq[(Long, String)](
      (1L, s"unique opening paragraph of doc one\n\n$shared"),
      (2L, s"$shared\n\nunique closing paragraph of doc two"),
      (3L, s"$shared"),
      (4L, "one\n\ntwo"), // both under minLen — always kept
      (5L, null)).toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(fixture)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2)))).toMap
    // doc 1 owns the shared paragraph (min (doc_id, pos) = (1, 1))
    assert(got(1L) == ((Some(s"unique opening paragraph of doc one\n\n$shared"), 0L)))
    assert(got(2L) == ((Some("unique closing paragraph of doc two"), 1L)))
    assert(got(3L) == ((Some(""), 1L)))
    assert(got(4L) == ((Some("one\n\ntwo"), 0L)), "short paragraphs always stay")
    assert(got(5L) == ((None, 0L)), "NULL totality")
    // newlines WITHIN a paragraph do not split it
    val multi = Seq(
      (1L, "a paragraph with an internal\nline break inside it\n\nsecond block"),
      (2L, "a paragraph with an internal\nline break inside it"))
      .toDF("doc_id", "text")
    val m = Dedup.dedupParagraphs(multi)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m == Map(1L -> 0L, 2L -> 1L), m)
  }

  test("corpusStats: integer report on a hand corpus, null handling") {
    val fixture = Seq[(java.lang.Long, String, String)](
      (1L, "a", "one two three"), (2L, "a", null), (3L, "a", "x" * 150),
      (4L, "b", "")).toDF("doc_id", "source", "text")
    val got = Curation.corpusStats(fixture)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    // a: 3 docs, 1 null, chars 13+150, tokens 3+150? no — "x"*150 is ONE
    // token; short docs: only the 13-char one; max 150
    assert(got("a") == ((3L, 1L, 163L, 4L, 1L, 150L)), got("a"))
    // b: empty text counts 0 chars, 1 whitespace token ([''] split), short
    assert(got("b") == ((1L, 0L, 0L, 1L, 1L, 0L)), got("b"))
  }

  test("scriptRatio: disjoint class counts sum to total, null-safe, permille") {
    // "Ab1 ?\u00e9" = 6 chars: 2 latin, 1 digit, 1 space, 1 other-ascii
    // ('?'), 1 non-ascii (e-acute, \u00e9); NULL source contributes zeros
    val fixture = Seq[(java.lang.Long, String, String)](
      (1L, "a", "Ab1 ?\u00e9"), (2L, "a", null), (3L, "b", "xy 12"))
      .toDF("doc_id", "source", "text")
    val got = Curation.scriptRatio(fixture)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8)))).toMap
    assert(got("a") == ((6L, 2L, 1L, 1L, 1L, 1L, 333L, 166L)), got("a"))
    assert(got("b") == ((5L, 2L, 2L, 1L, 0L, 0L, 400L, 0L)), got("b"))
    // classes partition the text: sum of the five class counts == total
    got.values.foreach { case (c, lat, dig, sp, oth, na, _, _) =>
      assert(lat + dig + sp + oth + na == c)
    }
  }

  test("heavyHitters: exact regime == groupBy; approximate bounds; roundtrip") {
    import org.apache.spark.sql.graft.SpaceSavingBuffer
    // exact regime: capacity >= distinct items → plain counts, err 0
    val tokens = docs.select(explode(split(trim($"text"), "\\s+")).as("token"))
    val got = TextAnalysis.heavyHitters(tokens, $"token", capacity = 256, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = tokens.groupBy("token").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, n) => (-n, t) }.take(10)
    assert(got.map(t => (t._1, t._2)).toSeq == want.toSeq, got.toSeq)
    assert(got.forall(_._3 == 0L), "exact regime must report err 0")
    // approximate regime on a skewed synthetic stream across partitions:
    // overestimate-bounded counts and guaranteed presence of true heavies
    val hot = Seq.fill(500)("hot") ++ Seq.fill(300)("warm")
    val cold = (0 until 400).map(i => s"cold$i")
    val stream = scala.util.Random.shuffle(hot ++ cold ++ cold) // fixed seed irrelevant: bounds hold for ANY order
    val sdf = stream.toDF("token").repartition(13)
    val approx = TextAnalysis.heavyHitters(sdf, $"token", capacity = 16, k = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val trueCounts = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    approx.foreach { case (item, est, err) =>
      val t = trueCounts(item)
      assert(est >= t, s"$item: est $est < true $t")
      assert(est - err <= t, s"$item: est-err ${est - err} > true $t")
    }
    val items = approx.map(_._1).toSet
    assert(items.contains("hot") && items.contains("warm"),
      s"true heavy hitters must be tracked (f > N/capacity): $items")
    // serialization round trip preserves entries exactly
    val buf = new SpaceSavingBuffer(8)
    Seq("a", "b", "a", "c", "a", "b").foreach(buf.offer(_, 1L, 0L))
    val back = SpaceSavingBuffer.fromBytes(buf.toBytes)
    assert(back.sortedEntries == buf.sortedEntries)
    assert(buf.sortedEntries == Seq(("a", 3L, 0L), ("b", 2L, 0L), ("c", 1L, 0L)))
  }

  test("sourceOverlap: set semantics, unordered pairs, null exclusion") {
    val fixture = Seq[(java.lang.Long, String, String)](
      (1L, "a", "x"), (2L, "a", "x"), // within-source dup counts once
      (3L, "b", "x"), (4L, "c", "x"), // x spans a, b, c
      (5L, "a", "y"), (6L, "b", "y"), // y spans a, b
      (7L, "c", "z"), // z unshared
      (8L, "b", null)) // null text excluded
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L), got)
  }

  test("lengthHistogram: bit-length buckets, null bucket -1, integer totals") {
    val fixture = Seq[(java.lang.Long, String, String)](
      (1L, "a", "one"), // 1 token → bin(1)='1' → bucket 1
      (2L, "a", "one two three"), // 3 tokens → bin(3)='11' → bucket 2
      (3L, "a", (1 to 9).map(_ => "w").mkString(" ")), // 9 → '1001' → 4
      (4L, "a", null), // bucket -1, 0 tokens
      (5L, "b", "x y")) // 2 → '10' → bucket 2
      .toDF("doc_id", "source", "text")
    val got = Curation.lengthHistogram(fixture)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(("a", 1L)) == ((1L, 1L, 1L, 1L)))
    assert(got(("a", 2L)) == ((1L, 3L, 3L, 3L)))
    assert(got(("a", 4L)) == ((1L, 9L, 9L, 9L)))
    assert(got(("a", -1L)) == ((1L, 0L, 0L, 0L)), "null bucket")
    assert(got(("b", 2L)) == ((1L, 2L, 2L, 2L)))
    assert(got.size == 5, got)
  }

  test("removeBoilerplate: per-line rules, blank preservation, NULL totality") {
    val fixture = Seq[(java.lang.Long, String)](
      (1L, "This first sentence is long enough and it ends properly.\n" +
        "Click here\n" + // short + no terminal punct
        "Visit HTTP://spam.example.com because this link is great today.\n" + // URL (case-blind)
        "THIS LINE IS VERY SHOUTY INDEED TODAY.\n" + // caps
        "no terminal punctuation on this long enough line\n" +
        "\n" + // blank — kept
        "A second proper sentence survives the cleaning pass as well!"),
      (2L, "Short doc."), // 2 words < minWords → everything removed
      (3L, null)).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplate(fixture, minWords = 5)
      .select("doc_id", "cleaned", "n_lines", "n_boiler")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((Some(
      "This first sentence is long enough and it ends properly.\n\n" +
        "A second proper sentence survives the cleaning pass as well!"),
      6L, 4L)), got(1L))
    assert(got(2L) == ((Some(""), 1L, 1L)))
    assert(got(3L) == ((None, 0L, 0L)), "NULL totality")
    // boundary: exactly minWords with terminal punct and mixed case passes
    val edge = Seq((1L, "one two three four five.")).toDF("doc_id", "text")
    assert(TextAnalysis.removeBoilerplate(edge, minWords = 5)
      .select("n_boiler").head().getLong(0) == 0L)
    // shouty boundary: exactly half uppercase letters is NOT shouty
    val half = Seq((1L, "AB ab CD cd EF ef.")).toDF("doc_id", "text")
    assert(TextAnalysis.removeBoilerplate(half, minWords = 5)
      .select("n_boiler").head().getLong(0) == 0L)
  }

  test("simhash pairs: planted near-dups within hamming 3 are found") {
    val pairs = Dedup.simhashPairs(planted, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    val all = planted.collect().map(r => (r.getLong(0), r.getString(1)))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val brute = for {
      (ia, ta) <- all; (ib, tb) <- all
      if ia < ib
      h = hamming(TextCore.simhash64(ta, 5), TextCore.simhash64(tb, 5))
      if h <= 3
    } yield (ia, ib, h.toLong)
    assert(pairs.map(p => (p._1, p._2)).toSet == brute.map(p => (p._1, p._2)).toSet)
    assert(brute.nonEmpty, "fixture has no simhash near-dups")
  }

  test("approximate aggregates are within their error bounds of exact") {
    val events = graft.sources.Tables.table(spark, sf, "events")
    // HLL++ distinct count: rsd default 0.05 — allow 3 sigma
    val exact = events.agg(countDistinct($"user_id")).head.getLong(0)
    val approx = events.agg(approx_count_distinct($"user_id")).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.15,
      s"approx=$approx exact=$exact")
    // approx percentile lands within the accuracy-implied rank tolerance
    val med = events.agg(expr("percentile_approx(value, 0.5, 100)")).head.getDouble(0)
    val n = events.count()
    val rank = events.filter($"value" <= med).count().toDouble / n
    assert(rank >= 0.45 && rank <= 0.55, s"approx median at rank $rank")
  }

  test("asof join keeps matches whose payload value is null") {
    val left = Seq((1L, 10L, "L1"), (1L, 20L, "L2")).toDF("k", "ts", "tag")
    val right = Seq((1L, 5L, Option.empty[String], 100L), (1L, 15L, Some("p"), 101L))
      .toDF("k", "ts", "payload", "rid")
    val out = graft.api.AsofJoin.asofJoin(left, right,
      keyCol = "k", leftTsCol = "ts", rightTsCol = "ts",
      rightPayload = Seq("payload"), rightIdCol = "rid")
      .select($"tag", $"asof_payload").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // L1 (ts=10) matches the null-payload right row at ts=5 — must be kept
    assert(out == Map("L1" -> None, "L2" -> Some("p")))
  }

  test("dedup clusters: connected components match union-find oracle") {
    val pairs = Dedup.minhashLshPairs(planted, "doc_id", "text", threshold = 0.7)
      .select($"id_a", $"id_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side union-find oracle over the same pairs
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val oracle = parent.keys.map(k => k -> find(k)).toMap
    assert(got.keySet == oracle.keySet)
    // same partition: min-label == union-find root (roots are min ids here)
    got.foreach { case (id, c) => assert(c == oracle(id), s"node $id: $c vs ${oracle(id)}") }
    // the distributed iterative path (forced via driverMaxEdges = 0) must
    // produce the identical labeling as the driver union-find fast path
    val distributed = Dedup.clusters(pairs, driverMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == got, "distributed and driver cluster paths diverged")
  }

  test("clusters driver fast path: deep chain and forest shapes") {
    // a 3000-node path graph (worst case for plain propagation) plus stars
    val chain = (0L until 2999L).map(i => (i, i + 1))
    val stars = (0 until 50).flatMap(s => (1 to 5).map(i => (10000L + s * 10, 10000L + s * 10 + i)))
    val pairs = (chain ++ stars).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 2999L).foreach(i => assert(got(i) == 0L, s"chain node $i -> ${got(i)}"))
    stars.foreach { case (h, m) => assert(got(m) == h && got(h) == h) }
  }

  test("clusters DISTRIBUTED path: deep chain converges via pointer doubling") {
    // the 100 TB path: plain min-label propagation needs O(diameter)
    // rounds (3000 here, far past maxIter=12), so this converges within
    // the round budget only if the doubling-engagement heuristic actually
    // engages — the branch the driver fast path never exercises
    val chain = (0L until 2999L).map(i => (i, i + 1))
    val stars = (0 until 50).flatMap(s => (1 to 5).map(i => (10000L + s * 10, 10000L + s * 10 + i)))
    val pairs = (chain ++ stars).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs, driverMaxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 2999L).foreach(i => assert(got(i) == 0L, s"chain node $i -> ${got(i)}"))
    stars.foreach { case (h, m) => assert(got(m) == h && got(h) == h) }
  }

  test("clustersIncremental == full recompute across seeds and sequential batches") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 61)
      val all = (0 until 160).map(_ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
      // fold the pair stream in three arbitrary batches; after each fold
      // the labeling must equal the full recompute over the prefix
      val batches = all.grouped((all.size + 2) / 3).toSeq
      var labels = Dedup.clusters(batches.head.toDF("id_a", "id_b"))
      var seen = batches.head
      batches.tail.foreach { b =>
        labels = Dedup.clustersIncremental(labels, b.toDF("id_a", "id_b"))
        seen = seen ++ b
        val full = Dedup.clusters(seen.toDF("id_a", "id_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == full, s"seed $seed after ${seen.size} pairs")
      }
    }
    // pinned shapes: a delta edge MERGES two existing clusters (labels of
    // the higher cluster rewrite to the lower rep), brand-new ids form
    // their own component, and untouched components keep labels verbatim
    val base = Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val labels0 = Dedup.clusters(base)
    val delta = Seq((2L, 10L), (30L, 31L)).toDF("id_a", "id_b")
    val got = Dedup.clustersIncremental(labels0, delta).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
    // empty delta: labels pass through unchanged
    val same = Dedup.clustersIncremental(labels0,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(same == labels0.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  /** Driver-side exact cosine (same sequential double loop as VecOps). */
  private def cosD(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
    }
    if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("cosine near-dup: planted pairs, recall >= 0.95 vs brute force, non-vacuous") {
    // plant near-dups: deterministic multiplicative perturbation, cosine ~0.99
    val mutated = embs.select(($"vec_id" + 10000).as("vec_id"),
      expr("cast(transform(embedding, (x, i) -> x * (1.0 + 0.12 * sin(vec_id * 37 + i))) as array<float>)")
        .as("embedding"))
    val planted = embs.select("vec_id", "embedding").union(mutated).cache()
    val got = Dedup.cosineNearDupPairs(planted, "vec_id", "embedding", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val all = planted.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val brute = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cosD(va, vb) >= 0.95
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "fixture planted no cosine near-dups")
    val gotSet = got.map(p => (p._1, p._2)).toSet
    assert(gotSet.nonEmpty, "LSH found zero pairs — recall collapse")
    assert(gotSet.subsetOf(brute), "emitted a pair below threshold (verify failed)")
    val recall = gotSet.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.95, s"cosine LSH recall $recall on ${brute.size} true pairs")
    got.foreach(p => assert(p._3 >= 0.95))
  }

  test("cosine near-dup at threshold 0.5 finds the natural sf0.01 pair (q_dedup_cosine)") {
    // the gate query's exact configuration: auto-tuned banding at a LOW
    // threshold must still find the (single) natural pair at sf0.01 —
    // deterministic under the fixed seed, so this pins the driver result
    val e01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val got = Dedup.cosineNearDupPairs(e01, "vec_id", "embedding", threshold = 0.5,
        targetRecall = 0.999, corpusSizeHint = e01.count())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = e01.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val brute = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cosD(va, vb) >= 0.5
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty, "sf0.01 embeddings lost their natural >=0.5 pair")
    assert(got == brute, s"LSH $got != brute force $brute")
  }

  test("LSH maxBucket drops are counted via metrics, other pairs still emitted") {
    val boiler = (0 until 20).map(i => (i.toLong,
      "the same boilerplate sentence repeated verbatim across the corpus again and again"))
    val near = Seq(
      (100L, "a genuinely distinctive document about winnowing fingerprints and shingles"),
      (101L, "a genuinely distinctive document about winnowing fingerprints and shingles!"))
    val corpus = (boiler ++ near).toDF("doc_id", "text")
    val obs = new org.apache.spark.sql.Observation("lsh_drops")
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      threshold = 0.7, maxBucket = 10, metrics = Some(obs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate bucket (size 20 > 10) is dropped in every band...
    val m = obs.get
    assert(m("dropped_buckets").asInstanceOf[Long] >= 1L, s"no drops observed: $m")
    assert(m("max_bucket_size").asInstanceOf[Int] >= 20)
    // ...its pairs are absent, while the under-cap near-dup pair survives
    assert(pairs.contains((100L, 101L)), s"pair outside dropped bucket lost: $pairs")
    assert(!pairs.exists(p => p._1 < 20L && p._2 < 20L), "over-cap bucket leaked pairs")
  }

  // --- similarity search ---

  test("brute-force cosine top-k matches Scala oracle exactly") {
    val all = embs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val query = all.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => d += a(i).toDouble * b(i).toDouble; na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val oracle = all.map { case (id, v) => (id, cos(query, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Similarity.cosineTopK(embs, query, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).sameElements(oracle.map(_._1)))
    got.zip(oracle).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
  }

  test("LSH top-k with fallback: k results, high overlap with exact") {
    val all = embs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val query = all.find(_._1 == 42L).get._2
    val exact = Similarity.cosineTopK(embs, query, 10).collect().map(_.getLong(0)).toSet
    val approx = Similarity.cosineTopKLsh(embs, query, 10).collect().map(_.getLong(0)).toSet
    assert(approx.size == 10)
    assert(exact.intersect(approx).size >= 5, s"ANN overlap too low: ${exact.intersect(approx).size}")
  }

  test("bucketed embedding layout: stored LSH top-k == in-memory; directories pruned") {
    withTempDir("graft-emb-bucketed") { tmp =>
      val path = tmp.toString
      Similarity.writeEmbeddingsBucketed(embs, path, planes = 6)
      val query = embs.filter($"vec_id" === 3L).select("embedding").head()
        .getSeq[Float](0).toArray
      val mem = Similarity.cosineTopKLsh(embs, query, 10, planes = 6)
        .collect().map(_.getLong(0)).toSet
      val stored = Similarity.cosineTopKLshStored(spark, path, query, 10, planes = 6)
        .collect().map(_.getLong(0)).toSet
      assert(stored == mem, "stored-layout ANN must equal the in-memory variant")
      // directory pruning: a bucket predicate lists strictly fewer files
      val all = spark.read.parquet(path)
      val oneBucket = all.select("lsh_bucket").head().getAs[Number](0).longValue
      val filesAll = all.select(input_file_name()).distinct().count()
      val filesPruned = all.filter($"lsh_bucket" === oneBucket)
        .select(input_file_name()).distinct().count()
      assert(filesPruned < filesAll,
        s"bucket filter must prune directories ($filesPruned vs $filesAll)")
    }
  }

  test("IVF top-k: trains, assigns, probes; high overlap with exact") {
    val centroids = Similarity.ivfTrain(embs, nCells = 8, iters = 4)
    assert(centroids.length == 8 && centroids.forall(_.length == 64))
    val assigned = Similarity.ivfAssign(embs, centroids)
    val cells = assigned.select("ivf_cell").distinct().count()
    assert(cells > 1, "degenerate quantizer: all vectors in one cell")
    val all = embs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val query = all.find(_._1 == 7L).get._2
    val exact = Similarity.cosineTopK(embs, query, 10).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(embs, centroids, query, 10, nProbe = 6)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    assert(exact.intersect(ivf).size >= 5, s"IVF overlap ${exact.intersect(ivf).size}")
    // the observability probe reports exactly the measured overlap fraction
    val recall = Similarity.ivfDeliveredRecall(embs, centroids, query, 10, nProbe = 6)
    assert(recall == exact.intersect(ivf).size.toDouble / exact.size,
      s"delivered-recall probe $recall disagrees with the measured overlap")
    // the same machine-checked floor Bench enforces on the official record:
    // an isotropic corpus delivers ~nProbe/nCells recall, so below
    // floor − ε the index (not the data) broke (gate config nProbe=6/8)
    val floor = 6.0 / 8 - 0.05
    assert(recall >= floor && recall <= 1.0,
      s"delivered recall $recall outside [floor $floor, 1]")
  }

  test("IVF low-nprobe recall on a CLUSTERED corpus: >= 0.8 by nprobe 4") {
    // the isotropic gate corpus caps recall at ~nProbe/nCells for ANY
    // coarse quantizer (that curve measures the data); planting 8
    // well-separated clusters (per-cluster axis shift) gates the OPERATOR:
    // the k-means codebook must capture the structure and deliver the
    // low-nprobe recall real (heavily clustered) embedding corpora see
    val clustered = embs.selectExpr("vec_id",
      "transform(embedding, (x, i) -> CAST(x + IF(i = CAST(vec_id % 8 AS INT), 6.0, 0.0) AS FLOAT)) AS embedding")
    val cents = Similarity.ivfTrain(clustered, nCells = 8, iters = 5)
    val q = clustered.filter($"vec_id" === 0L).select("embedding").head()
      .getSeq[Float](0).toArray
    val r4 = Similarity.ivfDeliveredRecall(clustered, cents, q, 10, nProbe = 4)
    assert(r4 >= 0.8, s"clustered-corpus recall $r4 below 0.8 at nprobe 4")
    val r1 = Similarity.ivfDeliveredRecall(clustered, cents, q, 10, nProbe = 1)
    assert(r1 >= 0.5, s"clustered-corpus recall $r1 at nprobe 1 — codebook blind to clusters")
  }

  // --- text analysis ---

  test("token counts") {
    val df = Seq("hello world", " a  b\tc ", "", "one").toDF("text")
    val ws = df.select(TextAnalysis.tokenCountWs($"text")).collect().map(_.getInt(0))
    assert(ws.sameElements(Array(2, 3, 1, 1))) // empty-string split yields [""]
    val bp = Seq("Hello, world! 42").toDF("text")
      .select(TextAnalysis.tokenCountBpeish($"text")).head.getInt(0)
    assert(bp == 5) // Hello , world ! 42
  }

  test("langId heuristic on natural text") {
    assert(TextCore.langId("the cat sat on the mat and it was happy") == "en")
    assert(TextCore.langId("el perro corre por la calle y no se detiene") == "es")
    assert(TextCore.langId("der Hund läuft durch die Straße und die Katze auch") == "de")
    assert(TextCore.langId("le chien court dans la rue et il est content") == "fr")
    assert(TextCore.langId("这是一个中文句子用于测试语言识别") == "zh")
    assert(TextCore.langId("это русское предложение для проверки") == "ru")
    assert(TextCore.langId("これは日本語の文です") == "ja")
    assert(TextCore.langId("") == "und")
  }

  test("quality score in [0,1] and orders garbage below prose") {
    val df = Seq(
      ("good", "The quick brown fox jumps over the lazy dog and it was a fine day for running in the park with friends."),
      ("bad", "@@@@ #### $$$$ %%%% ^^^^ &&&&")).toDF("tag", "text")
    val scored = TextAnalysis.withQualityScore(df, "text")
      .select("tag", "quality_score").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scored.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(scored("good") > scored("bad"))
  }

  test("winnow fingerprint: identical docs share fingerprints, edits mostly survive") {
    val a = "the quick brown fox jumps over the lazy dog repeatedly every single day"
    val b = a + " except sundays"
    val fa = TextCore.winnow(a).toSet
    val fb = TextCore.winnow(b).toSet
    assert(fa == TextCore.winnow(a).toSet)
    val overlap = fa.intersect(fb).size.toDouble / fa.size
    assert(overlap >= 0.8, s"fingerprint overlap $overlap")
  }

  test("explode_shingles UDTF matches TextCore.shingleHashes") {
    docs.limit(20).createOrReplaceTempView("shingle_docs")
    val got = spark.sql(
      "SELECT doc_id, shingle_hash FROM shingle_docs LATERAL VIEW explode_shingles(text, 5) t")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    docs.limit(20).collect().foreach { r =>
      val expect = TextCore.shingleHashes(r.getAs[String]("text"), 5).toSet
      assert(got(r.getAs[Long]("doc_id")) == expect)
    }
  }

  test("shingle_hashes + sorted_jaccard SQL surface: pairwise == ngram_jaccard") {
    docs.limit(20).createOrReplaceTempView("sj_docs")
    val got = spark.sql(
      """SELECT a.doc_id ia, b.doc_id ib,
        |  sorted_jaccard(array_sort(shingle_hashes(a.text, 5)),
        |                 array_sort(shingle_hashes(b.text, 5))) j,
        |  ngram_jaccard(a.text, b.text, 5) j2
        |FROM sj_docs a JOIN sj_docs b ON a.doc_id < b.doc_id""".stripMargin).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getDouble(2) == r.getDouble(3),
      s"sorted_jaccard != ngram_jaccard for (${r.getLong(0)}, ${r.getLong(1)})"))
  }

  test("chunk: tiling stride reassembles originals; overlap windows agree") {
    // stride == size: concatenating chunks in offset order rebuilds the text
    val tiled = TextAnalysis.chunk(docs, size = 100, stride = 100).collect()
      .groupBy(_.getLong(0))
    docs.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id"); val text = r.getAs[String]("text")
      val rebuilt = tiled(id).sortBy(_.getLong(1)).map(_.getString(2)).mkString
      assert(rebuilt == text, s"doc $id reassembly failed")
    }
    // stride < size: every chunk is the substring at its offset
    TextAnalysis.chunk(docs.limit(50), size = 64, stride = 48).collect().foreach { c =>
      val text = docs.filter($"doc_id" === c.getLong(0)).head.getAs[String]("text")
      val off = c.getLong(1).toInt
      assert(c.getString(2) == text.substring(off, math.min(off + 64, text.length)))
    }
  }

  test("packBudgeted: deterministic, contiguous, budget-consistent packs") {
    val got = TextAnalysis.packBudgeted(docs, Seq("source"), budgetTokens = 512L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // brute force: per source, docs in id order, pack = exclusive-cumsum div 512
    val bySource = docs.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").trim.split("\\s+").length.toLong))
      .groupBy(_._2)
    val expect = bySource.toSeq.flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._1).toSeq.map { case (id, _, n) =>
        val p = cum / 512L; cum += n; ((id, src), (n, p))
      }
    }.toMap
    assert(got.length == expect.size)
    got.foreach { case (id, src, n, p) =>
      val (en, ep) = expect((id, src))
      assert(n == en && p == ep, s"doc $id: got ($n,$p) expect ($en,$ep)")
    }
    // identical at any input partitioning
    val repart = TextAnalysis.packBudgeted(docs.repartition(7), Seq("source"),
      budgetTokens = 512L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(repart == got.toSet)
  }

  test("sortedJaccardAtLeast property: exact when qualifying, abandon only below t") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val universe = Array.fill(40)(rnd.nextLong() % 50) // small domain → overlaps
      val a = Array.fill(1 + rnd.nextInt(60))(universe(rnd.nextInt(40))).distinct.sorted
      val b = Array.fill(1 + rnd.nextInt(60))(universe(rnd.nextInt(40))).distinct.sorted
      val inter = a.toSet.intersect(b.toSet).size
      val plain = inter.toDouble / (a.length + b.length - inter)
      for (t <- Seq(0.1, 0.5, 0.8, 0.95)) {
        val got = TextCore.sortedJaccardAtLeast(a, b, t)
        val gotAd = org.apache.spark.sql.graft.TextOps.sortedJaccardAtLeast(
          new GenericArrayData(a), new GenericArrayData(b), t)
        assert(got == gotAd, s"array vs ArrayData impl disagree: $got vs $gotAd")
        if (plain >= t) assert(got == plain, s"abandoned a qualifying pair at t=$t")
        else assert(got == plain || got == -1.0)
      }
    }
  }

  // --- multimodal ---

  test("multimodal: WAV/BMP containers round-trip through the real parser") {
    // unit round-trip: spec offsets, little-endian fields
    val wav = Multimodal.MediaContainers.wav(16000, 2, Array.fill[Byte](101)(7))
    assert(Multimodal.MediaContainers.parse(wav) == (("wav", 0L, 0L, 16000L, 26L))) // 104/4
    val bmp = Multimodal.MediaContainers.bmp(16, Array.fill[Byte](100)(7))
    assert(Multimodal.MediaContainers.parse(bmp) == (("bmp", 16L, 3L, 0L, 48L)))

    // distributed: every decoded field equals the generation arithmetic
    val media = Multimodal.demoContainerTable(spark, docs.limit(30), "doc_id", "text")
    val lens = docs.limit(30)
      .selectExpr("doc_id", "CAST(octet_length(encode(text, 'UTF-8')) AS LONG) AS len")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decoded = Multimodal.decodeContainers(spark, media).collect()
    assert(decoded.length == 30)
    decoded.foreach { d =>
      val len = lens(d.media_id)
      if (d.kind == "audio") {
        val ba = (1 + d.media_id % 2) * 2
        val dataLen = (len + ba - 1) / ba * ba
        assert(d.format == "wav" && d.width == 0 && d.height == 0)
        assert(d.sample_rate == 8000 + (d.media_id % 5) * 2000)
        assert(d.byte_len == 44 + dataLen && d.n_units == dataLen / ba)
      } else {
        val h = math.max(1, (len + 47) / 48)
        assert(d.format == "bmp" && d.width == 16 && d.height == h)
        assert(d.sample_rate == 0 && d.byte_len == 54 + 48 * h && d.n_units == 16 * h)
      }
    }
  }

  test("multimodal perceptual hashes: brute reference, invariances, near-dup pairing") {
    import Multimodal.MediaContainers
    // brute dHash reference on a hand-built gradient image: row i sampled
    // at pixel row (i*(h-1))/7, col j at (j*15)/8, gray = (b+g+r)/3
    def refDHash(payload: Array[Byte]): (Long, Long) = {
      val b = MediaContainers.bmp(16, payload)
      val h = math.max(1, (payload.length + 47) / 48)
      def gray(r: Int, c: Int): Int = {
        val off = 54 + r * 48 + c * 3
        ((b(off) & 0xff) + (b(off + 1) & 0xff) + (b(off + 2) & 0xff)) / 3
      }
      var (h0, h1) = (0L, 0L)
      for (i <- 0 until 8; j <- 0 until 8)
        if (gray(i * (h - 1) / 7, j * 15 / 8) > gray(i * (h - 1) / 7, (j + 1) * 15 / 8)) {
          val bit = i * 8 + j
          if (bit < 32) h0 |= 1L << bit else h1 |= 1L << (bit - 32)
        }
      (h0, h1)
    }
    val rnd = new scala.util.Random(11)
    for (n <- Seq(0, 1, 47, 48, 100, 500)) {
      val p = Array.fill[Byte](n)(rnd.nextInt(256).toByte)
      assert(MediaContainers.dHash64(MediaContainers.bmp(16, p)) == refDHash(p),
        s"dHash mismatch at payload length $n")
    }
    // WAV energy hash: constant payload → all-equal energies → hash 0;
    // a loud front half flips exactly the frame-boundary bit
    val flat = MediaContainers.wav(8000, 1, Array.fill[Byte](130)(5))
    assert(MediaContainers.energyHash64(flat) == ((0L, 0L)))
    val empty = MediaContainers.wav(8000, 1, Array.empty)
    assert(MediaContainers.energyHash64(empty) == ((0L, 0L)))
    // halves are always non-negative 32-bit (the cross-engine packing)
    val noisy = MediaContainers.wav(8000, 2,
      Array.tabulate[Byte](997)(i => (i * 31 % 256).toByte))
    val (e0, e1) = MediaContainers.energyHash64(noisy)
    assert(e0 >= 0 && e0 < (1L << 32) && e1 >= 0 && e1 < (1L << 32))

    // pairing: identical texts pair at hamming 0; a lightly-edited twin
    // pairs at small hamming; formats never cross-pair
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val rows = Seq(
      (0L, base), (3L, base),                        // image/bmp twins (0%3=0, 3%3=0)
      (1L, base), (4L, base),                        // audio/wav twins
      (6L, base.replace("quick", "quack")),          // bmp near-dup of 0/3
      (2L, "completely different content here, nothing shared at all " * 9)
    ).toDF("doc_id", "text")
    val media = Multimodal.demoContainerTable(spark, rows, "doc_id", "text")
    val hashes = Multimodal.perceptualHashes(spark, media).toDF()
    assert(hashes.count() == 6)
    val pairs = Dedup.hash64Pairs(hashes, "media_id", "format")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3))).toMap
    assert(pairs.get((0L, 3L)).contains(("bmp", 0L)), s"identical bmps must pair at 0: $pairs")
    assert(pairs.get((1L, 4L)).contains(("wav", 0L)), s"identical wavs must pair at 0: $pairs")
    assert(!pairs.keySet.exists { case (a, bb) => // wav ids are 1 mod 3
      (a % 3 == 1) != (bb % 3 == 1) }, s"formats must never cross-pair: $pairs")
    pairs.foreach { case (_, (_, ham)) => assert(ham >= 0 && ham <= 3) }
    // the 8-chunk radius is legal up to 7; past it no pigeonhole holds
    intercept[IllegalArgumentException](
      Dedup.hash64Pairs(hashes, "media_id", "format", maxHamming = 8))
  }

  test("hash64Pairs pigeonhole completeness: every pair within radius is found") {
    // property: for random fingerprints with d ≤ maxHamming flipped bits,
    // the banded join NEVER misses the pair (the pigeonhole guarantee) —
    // exercised at both band layouts (4×16-bit for d ≤ 3, 8×8-bit for
    // d ≤ 7), flips spread adversarially ACROSS chunks
    val rnd = new scala.util.Random(42)
    def halves(v: Long): (Long, Long) = (v & 0xffffffffL, v >>> 32)
    for (radius <- Seq(3, 7)) {
      val rows = (0 until 40).flatMap { i =>
        val base = rnd.nextLong()
        val d = rnd.nextInt(radius + 1)
        // spread the d flips over distinct positions covering many chunks
        val flips = rnd.shuffle((0 until 64).toList).take(d)
        val twin = flips.foldLeft(base)((v, b) => v ^ (1L << b))
        val (b0, b1) = halves(base)
        val (t0, t1) = halves(twin)
        Seq((i * 2L, "g", b0, b1), (i * 2L + 1, "g", t0, t1))
      }
      val df = rows.toDF("media_id", "format", "h0", "h1")
      val got = Dedup.hash64Pairs(df, "media_id", "format", maxHamming = radius)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      rows.grouped(2).foreach { case Seq((a, _, a0, a1), (b, _, b0, b1)) =>
        val d = java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1)
        if (d <= radius)
          assert(got.get((a, b)).contains(d.toLong),
            s"radius $radius missed planted pair ($a,$b) at hamming $d")
      }
      // and nothing above the radius survives the verify
      got.values.foreach(h => assert(h <= radius))
    }
  }

  test("clusterKeepList: linear output, singleton self-keep, keeper by score") {
    // pair graph: {1,2,3} one component, {5,6} another; 4 and 7 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val items = Seq((1L, 10L), (2L, 99L), (3L, 99L), (4L, 1L), (5L, 7L),
      (6L, 3L), (7L, 0L)).toDF("doc_id", "score")
    val r = Dedup.clusterKeepList(pairs, items, "doc_id", "score")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r.size == 7) // one row per ITEM — linear, not pair-shaped
    // component {1,2,3}: cluster = min id 1, keeper = score argmax with
    // id tie-break (2 and 3 both score 99 → keeper 2)
    assert(r(1L) == ((1L, 2L, 0L)))
    assert(r(2L) == ((1L, 2L, 1L)))
    assert(r(3L) == ((1L, 2L, 0L)))
    // component {5,6}: keeper 5 (score 7 > 3)
    assert(r(5L) == ((5L, 5L, 1L)))
    assert(r(6L) == ((5L, 5L, 0L)))
    // singletons keep themselves
    assert(r(4L) == ((4L, 4L, 1L)))
    assert(r(7L) == ((7L, 7L, 1L)))
    // the drop list is exactly the non-keepers
    assert(r.filter(_._2._3 == 0L).keySet == Set(1L, 3L, 6L))
  }

  test("hash64KeepList == uncollapsed clusterKeepList (equal-fingerprint equivalence)") {
    // random fingerprints with planted structure: exact-duplicate groups
    // (the collapse target), near-dup chains across groups, singletons —
    // the collapsed rep-graph path must reproduce the full pair graph's
    // keep-list EXACTLY, including multi-member groups whose rep pairs
    // with nothing (pure hamming-0 cliques)
    val rnd = new scala.util.Random(7)
    def halves(v: Long): (Long, Long) = (v & 0xffffffffL, v >>> 32)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    var id = 0L
    for (g <- 0 until 12) {
      val base = rnd.nextLong()
      val copies = 1 + rnd.nextInt(4) // 1..4 exact copies of this fingerprint
      val variants = rnd.nextInt(3)   // 0..2 near-dups at hamming 1..3
      for (_ <- 0 until copies) {
        val (h0, h1) = halves(base)
        rows += ((id, if (g % 2 == 0) "bmp" else "wav", h0, h1)); id += 1
      }
      for (_ <- 0 until variants) {
        val d = 1 + rnd.nextInt(3)
        val twin = rnd.shuffle((0 until 64).toList).take(d)
          .foldLeft(base)((v, b) => v ^ (1L << b))
        val (h0, h1) = halves(twin)
        rows += ((id, if (g % 2 == 0) "bmp" else "wav", h0, h1)); id += 1
      }
    }
    val hashes = rows.toSeq.toDF("media_id", "format", "h0", "h1")
    val items = rows.toSeq.map(r => (r._1, 100L + r._1 % 7))
      .toDF("media_id", "score")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    val full = asMap(Dedup.clusterKeepList(
      Dedup.hash64Pairs(hashes, "media_id", "format")
        .select(col("id_a"), col("id_b")),
      items, "media_id", "score"))
    val collapsed = asMap(Dedup.hash64KeepList(hashes, "media_id", "format",
      items, "media_id", "score"))
    assert(collapsed == full,
      s"collapse diverged: ${collapsed.toSeq.diff(full.toSeq).take(5)}")
    assert(full.size == rows.size)
    assert(full.values.exists(_._3 == 0L), "fixture must contain real clusters")
  }

  test("hash64AgainstIndex == full hash64Pairs restricted to the batch x corpus cut") {
    // random fingerprints with planted near-dups; index the corpus slice,
    // probe the batch slice, compare against the full pair table's
    // bipartite cut — at BOTH radius families (the index layout must
    // carry the banding its probes expect)
    val rnd = new scala.util.Random(19)
    def halves(v: Long): (Long, Long) = (v & 0xffffffffL, v >>> 32)
    val rows = (0 until 60).flatMap { i =>
      val base = rnd.nextLong()
      val d = rnd.nextInt(8)
      val twin = rnd.shuffle((0 until 64).toList).take(d)
        .foldLeft(base)((v, b) => v ^ (1L << b))
      val (b0, b1) = halves(base)
      val (t0, t1) = halves(twin)
      Seq((i * 2L, if (i % 2 == 0) "bmp" else "wav", b0, b1),
        (i * 2L + 1, if (i % 2 == 0) "bmp" else "wav", t0, t1))
    }
    val hashes = rows.toDF("media_id", "format", "h0", "h1")
    val corpus = hashes.filter(col("media_id") % 10 =!= 0)
    val batch = hashes.filter(col("media_id") % 10 === 0)
    for (radius <- Seq(3, 7)) {
      withTempDir(s"graft-h64-idx-$radius") { tmp =>
        val path = tmp.toString
        Dedup.writeHash64Index(corpus, path, "media_id", "format", radius)
        val got = Dedup.hash64AgainstIndex(spark, path, batch,
          "media_id", "format", radius)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val full = Dedup.hash64Pairs(hashes, "media_id", "format", radius)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3))
          .flatMap { case ((a, b), h) =>
            if (a % 10 == 0 && b % 10 != 0) Some((a, b) -> h)
            else if (b % 10 == 0 && a % 10 != 0) Some((b, a) -> h)
            else None
          }.toMap
        assert(got == full, s"radius $radius probe diverged from the full cut")
        assert(got.nonEmpty, s"radius $radius cut vacuous — fixture broken")
      }
    }
  }

  test("textKeepList == uncollapsed clusterKeepList (exact-duplicate collapse)") {
    // natural corpus + planted verbatim copies (each doc_id % 7 == 0
    // duplicated twice under new ids) + a null-text row: the collapsed
    // path must reproduce the full minhash pair graph's keep-list exactly
    val base = docs.limit(120).select(col("doc_id"), col("text"), col("n_chars"))
    val copies = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("n_chars"))
    val copies2 = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"), col("n_chars"))
    val nullRow = Seq((3000000L, null.asInstanceOf[String], 0L))
      .toDF("doc_id", "text", "n_chars")
    val corpus = base.unionByName(copies).unionByName(copies2)
      .unionByName(nullRow)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    val full = asMap(Dedup.clusterKeepList(
      Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b")),
      corpus, "doc_id", "n_chars"))
    val collapsed = asMap(Dedup.textKeepList(corpus, "doc_id", "text", "n_chars"))
    assert(collapsed == full,
      s"text collapse diverged: ${collapsed.toSeq.diff(full.toSeq).take(5)}")
    // the planted copies must actually cluster with their originals
    val copyIds = base.filter(col("doc_id") % 7 === 0)
      .collect().map(_.getLong(0))
    copyIds.foreach { id =>
      assert(full(id + 1000000L)._1 == full(id)._1 &&
        full(id + 2000000L)._1 == full(id)._1,
        s"verbatim copies of $id must share its cluster")
    }
    // null-text row survives as its own singleton keeper
    assert(full(3000000L) == ((3000000L, 3000000L, 1L)))
  }

  test("minhashLshLabels == clusters(minhashLshPairs) (connectivity-sufficient pairing)") {
    // the exactness contract of the two-round labeling, on the natural
    // corpus + NEAR-duplicate replicas (tag-prefixed — NOT byte-identical,
    // so the md5 collapse cannot absorb them; the replica-clique shape is
    // exactly where the chain round carries the load) + verbatim copies +
    // a null... (null text dies in the signature; covered by keep-list test)
    val base = docs.limit(150).select(col("doc_id"), col("text"))
    val rep1 = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("replica 1 "), col("text")).as("text"))
    val rep2 = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("replica 2 "), col("text")).as("text"))
    val copies = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(rep1).unionByName(rep2).unionByName(copies)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val viaPairs = asMap(Dedup.clusters(
      Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"))))
    val viaLabels = asMap(
      Dedup.minhashLshLabels(corpus, "doc_id", "text", threshold = 0.8))
    assert(viaLabels == viaPairs,
      s"label path diverged: extra=${viaLabels.toSeq.diff(viaPairs.toSeq).take(5)} " +
        s"missing=${viaPairs.toSeq.diff(viaLabels.toSeq).take(5)}")
    // replicas must genuinely cluster with their originals (fixture teeth:
    // the chain round did real work here)
    val repIds = base.filter(col("doc_id") % 3 === 0).collect().map(_.getLong(0))
    val clustered = repIds.count(id =>
      viaPairs.get(id + 1000000L).exists(c => viaPairs.get(id).contains(c)))
    assert(clustered > repIds.length / 2,
      s"fixture broken: only $clustered/${repIds.length} replicas clustered")
  }

  test("doc-split incremental keep-list (connective probe + star edges) == full textKeepList") {
    // the q_dedup_keeplist_incr lake shape in miniature, on a replica-heavy
    // corpus where a pair probe would pay batch × replication: the
    // connective probe's one-edge-per-(doc, component) rounds + the batch
    // labeling's star edges must still reproduce the from-scratch keep-list
    val base0 = docs.limit(120).select(col("doc_id"), col("text"), col("n_chars"))
    val corpus = base0
      .unionByName(base0.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("replica 1 "), col("text")).as("text"), col("n_chars")))
      .unionByName(base0.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("replica 2 "), col("text")).as("text"), col("n_chars")))
    val atRest = corpus.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val batch = corpus.filter(pmod(col("doc_id"), lit(10)) === 0)
    withTempDir("graft_incr_conn") { tmp =>
      val dir = tmp.toString + "/idx"
      Dedup.writeMinhashIndex(atRest, dir)
      val labels = Dedup.minhashLshLabelsFromIndex(spark, dir, atRest)
      val cross = Dedup.dedupAgainstIndexConnective(spark, dir, batch, atRest, labels)
        .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      val internal = Dedup.minhashLshLabels(batch, "doc_id", "text")
        .select(col("id").as("id_a"), col("cluster").as("id_b"))
      def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
      val incr = asMap(Dedup.clusterKeepListIncremental(labels,
        cross.unionByName(internal), corpus, "doc_id", "n_chars"))
      val full = asMap(Dedup.textKeepList(corpus, "doc_id", "text", "n_chars"))
      assert(incr == full,
        s"connective incremental diverged: ${incr.toSeq.diff(full.toSeq).take(5)}")
      // the probe must genuinely thin the edge set on this replica corpus
      val pairEdges = Dedup.dedupAgainstIndex(spark, dir, batch, atRest).count()
      val connEdges = cross.count()
      assert(connEdges < pairEdges,
        s"connective probe did not thin: $connEdges vs $pairEdges")
    }
  }

  test("minhashLshLabelsFromIndex == minhashLshLabels (regrouped artifact, char + word units)") {
    // the lake-cadence equality: labels regrouped from the persisted
    // writeMinhashIndex artifact must match the in-memory labeling
    // bit-for-bit — replicas included, so chain + residue rounds both run
    val base = docs.limit(120).select(col("doc_id"), col("text"))
    val corpus = base.unionByName(base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("replica 1 "), col("text")).as("text")))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    withTempDir("graft_mh_idx") { tmp =>
      val dir = tmp.toString
      Dedup.writeMinhashIndex(corpus, s"$dir/char")
      assert(asMap(Dedup.minhashLshLabelsFromIndex(spark, s"$dir/char", corpus)) ==
        asMap(Dedup.minhashLshLabels(corpus, "doc_id", "text")), "char unit")
      Dedup.writeMinhashIndex(corpus, s"$dir/word", wordShingle = 13)
      assert(asMap(Dedup.minhashLshLabelsFromIndex(spark, s"$dir/word", corpus,
          wordShingle = 13)) ==
        asMap(Dedup.minhashLshPairsWords(corpus, "doc_id", "text")
          .select(col("id_a"), col("id_b"))
          .transform(Dedup.clusters(_))), "word unit vs pair path")
    }
  }

  test("textKeepList == uncollapsed clusterKeepList on a NEAR-dup replica corpus") {
    // the q_dedup_keeplist sf10 shape in miniature: every doc has tag-
    // prefixed near-identical copies, byte-distinct so copyFactor ≈ 1 and
    // the md5 collapse is inert — the two-round labeling must still equal
    // the full pair graph's keep-list exactly
    val base = docs.limit(100).select(col("doc_id"), col("text"), col("n_chars"))
    val corpus = base.unionByName(
      base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("replica 1 "), col("text")).as("text"), col("n_chars")))
      .unionByName(base.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("replica 2 "), col("text")).as("text"), col("n_chars")))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    val full = asMap(Dedup.clusterKeepList(
      Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b")),
      corpus, "doc_id", "n_chars"))
    val got = asMap(Dedup.textKeepList(corpus, "doc_id", "text", "n_chars"))
    assert(got == full,
      s"near-dup keep-list diverged: ${got.toSeq.diff(full.toSeq).take(5)}")
  }

  // --- exact repeated-substring scan (Lee et al. 2022 style) ---

  /** Scala reference for word-aligned L-char grams (raw strings, no md5). */
  private def alignedGramsRef(t: String, L: Int): Set[String] =
    (0 to t.length - L).filter(i => i == 0 || t.charAt(i - 1) == ' ')
      .map(i => t.substring(i, i + L)).toSet

  test("sharedSubstringStats == brute force on the planted near-dup corpus") {
    val L = 40
    val got = Dedup.sharedSubstringStats(planted, "doc_id", "text", minLen = L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = planted.collect()
      .map(r => r.getLong(0) -> alignedGramsRef(r.getString(1), L))
    val gramDocs = scala.collection.mutable.Map.empty[String, Int]
    all.foreach { case (_, gs) => gs.foreach(g => gramDocs(g) = gramDocs.getOrElse(g, 0) + 1) }
    val shared = gramDocs.filter(_._2 >= 2).keySet
    val expected = all.map { case (id, gs) => id -> gs.count(shared).toLong }
      .filter(_._2 > 0).toMap
    assert(expected.nonEmpty, "fixture must contain cross-doc repeated passages")
    assert(got == expected)
  }

  test("sharedSubstringStats: planted passage found, alignment guarantee holds") {
    val passage = "all models are wrong but some models are useful here"
    val fixture = Seq(
      (1L, s"intro words then $passage and a tail"),
      // the repeat is NOT at the same offset and NOT word-aligned with doc 1's
      // sentence start — detection must come from a word start INSIDE it
      (2L, s"x $passage different ending entirely"),
      (3L, "completely unrelated text that is long enough to have grams " * 2),
      (4L, "short")).toDF("doc_id", "text")
    val got = Dedup.sharedSubstringStats(fixture, "doc_id", "text", minLen = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L), s"exactly the passage-sharing docs: $got")
    assert(got(1L) >= 1 && got(2L) >= 1)
    // doc 4 is shorter than minLen: no grams, no crash, no row
  }

  test("alignedGramMd5s: digests are md5 of the exact gram bytes") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val got = TextCore.alignedGramMd5s(t, 40)
      .map(_.map("%02x".format(_)).mkString).toSet
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = alignedGramsRef(t, 40).map { g =>
      md.reset()
      md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(got == expected && got.nonEmpty)
  }

  /** Scala reference for shared-span coverage: occurrences of grams seen
    * in >= 2 docs, merged as [pos, pos+L) intervals per doc. */
  private def spanStatsRef(docs: Seq[(Long, String)], L: Int): Map[Long, (Long, Long)] = {
    def starts(t: String) =
      (0 to t.length - L).filter(i => i == 0 || t.charAt(i - 1) == ' ')
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (id, t) =>
      starts(t).foreach { i =>
        val g = t.substring(i, i + L)
        gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
      }
    }
    docs.flatMap { case (id, t) =>
      val ps = starts(t).filter(i => gramDocs(t.substring(i, i + L)).size >= 2)
      if (ps.isEmpty) None
      else {
        var spans = 0L
        var covered = 0L
        var s = ps.head
        var e = ps.head + L
        ps.tail.foreach { p =>
          if (p > e) { spans += 1; covered += e - s; s = p; e = p + L }
          else e = math.max(e, p + L)
        }
        spans += 1; covered += e - s
        Some(id -> ((spans, covered)))
      }
    }.toMap
  }

  test("sharedSpanStats == brute-force interval merge on the planted corpus") {
    val got = Dedup.sharedSpanStats(planted, "doc_id", "text", minLen = 40)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected = spanStatsRef(
      planted.collect().map(r => (r.getLong(0), r.getString(1))).toSeq, 40)
    assert(expected.nonEmpty && got == expected)
  }

  test("removeSharedSpans == brute-force splice on the planted corpus") {
    val all = planted.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val L = 40
    // reference cleaned text: cut merged shared spans, keep the rest
    def starts(t: String) = (0 to t.length - L).filter(i => i == 0 || t.charAt(i - 1) == ' ')
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    all.foreach { case (id, t) =>
      starts(t).foreach { i =>
        val g = t.substring(i, i + L)
        gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
      }
    }
    val expected = all.map { case (id, t) =>
      val ps = starts(t).filter(i => gramDocs(t.substring(i, i + L)).size >= 2)
      val sb = new StringBuilder
      var cursor = 0
      var spanStart = -1
      var spanEnd = -1
      ps.foreach { p =>
        if (spanStart < 0) { spanStart = p; spanEnd = p + L }
        else if (p > spanEnd) {
          sb.append(t.substring(cursor, spanStart)); cursor = spanEnd
          spanStart = p; spanEnd = p + L
        } else spanEnd = math.max(spanEnd, p + L)
      }
      if (spanStart >= 0) { sb.append(t.substring(cursor, spanStart)); cursor = spanEnd }
      sb.append(t.substring(cursor))
      id -> sb.toString
    }.toMap
    val got = Dedup.removeSharedSpans(planted, "doc_id", "text", minLen = L)
      .select("doc_id", "cleaned", "n_chars_removed")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length == all.length, "every input row must come back")
    got.foreach { case (id, cleaned, removed) =>
      assert(cleaned == expected(id), s"doc $id cleaned mismatch")
      assert(removed == all.find(_._1 == id).get._2.length - cleaned.length)
    }
    assert(got.exists(_._3 > 0), "fixture must actually remove something")
  }

  test("sharedSpanStats: coverage bounded by doc length, full dup covers all") {
    val passage = "the exact same long passage repeated verbatim across two documents here"
    val fixture = Seq(
      (1L, passage), (2L, passage),
      (3L, s"prefix words here $passage suffix tail"),
      (4L, "unrelated content entirely different from the others in every way"))
      .toDF("doc_id", "text")
    val got = Dedup.sharedSpanStats(fixture, "doc_id", "text", minLen = 40)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    // identical docs: ONE span covering the aligned-gram extent (last
    // word-aligned start + minLen — word-aligned grams cannot reach the
    // final unaligned tail chars; here 68 of the 71-char passage)
    val lastStart = (0 to passage.length - 40)
      .filter(i => i == 0 || passage.charAt(i - 1) == ' ').max
    assert(got(1L) == ((1L, lastStart + 40L)))
    assert(got(1L) == got(2L))
    assert(got(3L)._1 == 1L)
    assert(got(3L)._2 <= passage.length + 40L, "span must not leak past the repeat")
  }

  test("centroidOutliers == integer brute force; scores exact, ranks total") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id".as("vec_id"), $"source")
    val embs01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val joined = embs01.join(docs01, "vec_id")
    val got = Similarity.centroidOutliers(joined, "source", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

    val rows = joined.select("source", "vec_id", "embedding").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray))
    val expected = rows.groupBy(_._1).flatMap { case (src, members) =>
      val n = members.length.toLong
      val dims = members.head._3.length
      val sums = Array.tabulate(dims)(d => members.map(_._3(d)).sum)
      members.map { case (_, id, qe) =>
        val score = (0 until dims).map { d =>
          val diff = n * qe(d) - sums(d); diff * diff
        }.sum
        (src, id, score)
      }.sortBy(t => (-t._3, t._2)).take(5).toSeq
    }.toSet
    assert(got.length == expected.size && got.toSet == expected)
    assert(got.forall(_._3 > 0), "isotropic corpus: no member sits exactly at the mean")
  }

  test("centroidOutliers guards: heterogeneous dims and int64 bound raise, not corrupt") {
    // group "a": a 3-dim vector mixed with a 2-dim one → explicit failure
    // (silent alternative would be zip_with null-padding dropping the row).
    // raise_error surfaces as SparkRuntimeException locally, SparkException
    // when it crosses a task boundary — intercept the common supertype.
    val hetero = Seq(
      ("a", 1L, Seq(1.0f, 2.0f, 3.0f)), ("a", 2L, Seq(1.0f, 2.0f)),
      ("b", 3L, Seq(0.5f, 0.5f)), ("b", 4L, Seq(0.1f, 0.9f)))
      .toDF("source", "vec_id", "embedding")
    val e1 = intercept[Exception](
      Similarity.centroidOutliers(hetero, "source", k = 2).collect())
    assert(e1.getMessage.contains("heterogeneous vector lengths"))
    // quadratic overflow bound: huge components at the default scale wrap
    // int64 in (n·e − S)² — must raise, never return a wrapped score
    val big = Seq(
      ("a", 1L, Seq(2.0e6f, 1.0e6f)), ("a", 2L, Seq(-2.0e6f, 1.5e6f)),
      ("a", 3L, Seq(1.0e6f, -2.0e6f)))
      .toDF("source", "vec_id", "embedding")
    val e2 = intercept[Exception](
      Similarity.centroidOutliers(big, "source", k = 1).collect())
    assert(e2.getMessage.contains("int64 exactness bound"))
    // same data under a small quantScale passes and ranks exactly
    val ok = Similarity.centroidOutliers(big, "source", k = 1, quantScale = 1)
      .collect()
    assert(ok.length == 1)
  }

  test("tokenNgrams: tokenization, joining, distinctness, short-text edge") {
    assert(TextCore.tokenNgrams("The  quick, BROWN fox!", 2).toSeq ==
      Seq("the quick", "quick brown", "brown fox"))
    assert(TextCore.tokenNgrams("a b a b a b", 2).toSet == Set("a b", "b a"))
    assert(TextCore.tokenNgrams("only two", 3).isEmpty)
    assert(TextCore.tokenNgrams("", 3).isEmpty)
    assert(TextCore.tokenNgrams("x42 y7", 2).toSeq == Seq("x42 y7"))
    // non-alnum (incl. unicode) separates, matching [^a-z0-9]+ on lower()
    assert(TextCore.tokenNgrams("café bar", 2).toSeq == Seq("caf bar"))
  }

  test("null/empty/short text: every text operator total, no crash, sane rows") {
    val ugly = Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, "x"), (4L, "two words"),
      (5L, "a perfectly normal document with enough words to gram over nicely"))
      .toDF("doc_id", "text")
    // scan-local projections: null in, null-or-default out, never a throw
    val proj = ugly.select(
      TextAnalysis.tokenCountWs(col("text")),
      TextAnalysis.tokenCountBpeish(col("text")),
      TextAnalysis.langId(col("text")),
      TextAnalysis.canonicalHash(col("text")),
      TextAnalysis.normalizeText(col("text")),
      TextAnalysis.fingerprint(col("text")),
      Pii.redact(col("text")))
    assert(proj.collect().length == 5)
    assert(TextAnalysis.withQualityScore(ugly, "text").collect().length == 5)
    // gram/dedup pipelines: null/short rows contribute nothing, rest flows
    assert(Dedup.sharedSubstringStats(ugly, minLen = 40).collect().forall(_.getLong(1) >= 0))
    assert(Dedup.sharedSpanStats(ugly, minLen = 40).count() == 0) // no repeats
    assert(Dedup.minhashLshPairs(ugly, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(ugly, "doc_id", "text").count() == 0)
    assert(TextAnalysis.contaminationNgrams(
      ugly.filter(col("doc_id") =!= 5), ugly.filter(col("doc_id") === 5)).count() == 0)
    assert(TextAnalysis.repetitionStats(ugly).count() == 5)
    assert(TextAnalysis.chunk(ugly).count() >= 3) // null contributes no chunks
    // removeSharedSpans totality: every row returned; NULL text keeps NULL
    // cleaned but n_chars_removed is 0 (not NULL), so sums skip nothing
    val cleaned = Dedup.removeSharedSpans(ugly, "doc_id", "text", minLen = 40)
      .select("doc_id", "cleaned", "n_chars_removed").collect()
    assert(cleaned.length == 5)
    assert(cleaned.forall(!_.isNullAt(2)), "n_chars_removed must never be NULL")
    val byId = cleaned.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(1) && byId(1L).getLong(2) == 0L, "NULL-in/NULL-out + zero removed")
    assert(byId(4L).getString(1) == "two words" && byId(4L).getLong(2) == 0L)
  }

  test("tokenNgrams property: equals the regex-split reference on random text") {
    val rnd = new scala.util.Random(3)
    val alphabet = "ab1 .,#\tA"
    for (_ <- 1 to 300) {
      val s = (0 until rnd.nextInt(60))
        .map(_ => alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
      val n = 1 + rnd.nextInt(3)
      val toks = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val ref =
        if (toks.length < n) Set.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toSet
      assert(TextCore.tokenNgrams(s, n).toSet == ref, s"text=${s.take(60)} n=$n")
    }
  }

  test("alignedGramStarts property: equals the filter reference on random text") {
    val rnd = new scala.util.Random(5)
    val alphabet = "abc de "
    for (_ <- 1 to 300) {
      val s = (0 until rnd.nextInt(90))
        .map(_ => alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
      val l = 2 + rnd.nextInt(8)
      val ref = (0 to s.length - l).filter(i => i == 0 || s.charAt(i - 1) == ' ')
      assert(TextCore.alignedGramStarts(s, l).toSeq == ref, s"text='$s' L=$l")
      // digest set matches the per-start substring md5s, deduped
      val md = java.security.MessageDigest.getInstance("MD5")
      val refDigests = ref.map(i =>
        md.digest(s.substring(i, i + l).getBytes("UTF-8")).toSeq).toSet
      assert(TextCore.alignedGramMd5s(s, l).map(_.toSeq).toSet == refDigests)
    }
  }

  // --- data mixing / snapshot maintenance ---

  test("deterministicMix: per-group fractions, nesting, unlisted dropped") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val mixA = Map("src0" -> 0.5, "src1" -> 0.1)
    val a = Sampling.deterministicMix(docs01, "source", "doc_id", mixA)
      .select("doc_id", "source").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.nonEmpty && a.forall(r => mixA.contains(r._2)), "unlisted sources must drop")
    // fraction accuracy per group (loose: 500-doc corpus, ~25/group)
    val perSrc = docs01.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(kept.getOrElse("src0", 0) > 0)
    assert(kept.getOrElse("src0", 0) <= perSrc("src0"))
    // nesting: raising a fraction keeps a superset
    val mixB = Map("src0" -> 0.9, "src1" -> 0.1)
    val b = Sampling.deterministicMix(docs01, "source", "doc_id", mixB)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.map(_._1).toSet.subsetOf(b), "mixtures must nest as fractions rise")
    // partition invariance
    val rep = Sampling.deterministicMix(docs01.repartition(13), "source", "doc_id", mixA)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rep == a.map(_._1).toSet)
  }

  test("deterministicSplit: total, disjoint, stable, consistent with sampling") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Sampling.deterministicSplit(docs01, "doc_id", w)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == docs01.count(), "every row labeled exactly once")
    val bySplit = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
    // the 0.8-fraction sample IS the train split (same hash, same threshold)
    val frac = Sampling.deterministicFraction(docs01, "doc_id", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(frac == got.filter(_._2 == "train").keySet)
    // partition invariance
    val rep = Sampling.deterministicSplit(docs01.repartition(11), "doc_id", w)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rep == got)
  }

  test("Snapshots.applyChanges: upserts replace, deletes remove, rest untouched") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("doc_id", "text", "v")
    val changes = Seq(
      (2L, "B2", 200L, "upsert"),  // replace
      (3L, "", 0L, "delete"),      // tombstone
      (9L, "new", 90L, "upsert"))  // insert
      .toDF("doc_id", "text", "v", "op")
    val got = Snapshots.applyChanges(base, changes, Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (2L, "B2", 200L), (4L, "d", 40L), (9L, "new", 90L)))
    // upsert-only convenience
    val up = Snapshots.upsert(base, Seq((1L, "A1", 100L)).toDF("doc_id", "text", "v"),
      Seq("doc_id")).collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(up == Set((1L, "A1", 100L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  // ---- SCD type-2 ----

  /** Serial SCD2 replay: per key, sort observations by (ts, attr), keep
    * run starts, lead() for valid_to. */
  private def bruteScd2(rows: Seq[(Long, Long, String)])
      : Set[(Long, String, Long, Option[Long], Long)] = {
    rows.groupBy(_._1).flatMap { case (k, rs) =>
      val sorted = rs.map(r => (r._2, r._3)).sorted
      val changed = sorted.zipWithIndex.collect {
        case ((t, a), i) if i == 0 || sorted(i - 1)._2 != a => (t, a)
      }
      changed.zipWithIndex.map { case ((t, a), i) =>
        (k, a, t,
          if (i + 1 < changed.length) Some(changed(i + 1)._1) else None,
          (i + 1).toLong)
      }
    }.toSet
  }

  private def scd2Df(rows: Seq[(Long, Long, String)]) =
    rows.zipWithIndex.map { case ((k, us, a), i) => (i.toLong, k, us, a) }
      .toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts",
        when(col("us") < 0, lit(null)).otherwise(timestamp_micros(col("us"))))

  private def runScd2(rows: Seq[(Long, Long, String)]) =
    Snapshots.scd2(scd2Df(rows), "user_id", "ts", Seq("event_type"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("valid_from")), unix_micros(col("valid_to")),
        col("version_n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))).toSet

  test("Snapshots.scd2 == serial replay across random observation logs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 41)
      val rows = (0 until 300).map(_ => (rnd.nextInt(8).toLong,
        rnd.nextInt(40).toLong * 1000000L,
        Seq("view", "click", "error")(rnd.nextInt(3))))
      assert(runScd2(rows) == bruteScd2(rows), s"seed $seed")
    }
  }

  test("Snapshots.scd2: runs not distinct states; dup collapse; open tail") {
    // A, A, B, A: the reappearing A starts version 3 — and only the
    // final version has a NULL valid_to
    val rows = Seq((1L, 10L, "A"), (1L, 20L, "A"), (1L, 30L, "B"), (1L, 40L, "A"))
    assert(runScd2(rows) == Set(
      (1L, "A", 10L, Some(30L), 1L),
      (1L, "B", 30L, Some(40L), 2L),
      (1L, "A", 40L, None, 3L)))
  }

  test("Snapshots.scd2: null contract, same-ts determinism, partition invariance") {
    // null key/ts rows version nothing
    val withNulls = Seq((1L, 10L, "A"), (1L, -1L, "Z"))
    assert(runScd2(withNulls) == Set((1L, "A", 10L, None, 1L)))
    // same-ts ties order by attribute: two zero-length-prefix versions
    val ties = Seq((2L, 10L, "B"), (2L, 10L, "A"))
    assert(runScd2(ties) == Set(
      (2L, "A", 10L, Some(10L), 1L), (2L, "B", 10L, None, 2L)))
    // a null ATTRIBUTE is a state, not a wildcard: A, null, null, A
    val nullAttr = Seq((3L, 10L, "A"), (3L, 20L, null), (3L, 30L, null),
      (3L, 40L, "A"))
    val got = Snapshots.scd2(scd2Df(nullAttr), "user_id", "ts", Seq("event_type"))
      .select(col("event_type"), unix_micros(col("valid_from")), col("version_n"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((Some("A"), 10L, 1L), (None, 20L, 2L), (Some("A"), 40L, 3L)))
    // partition invariance + attr validation
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map(_ => (rnd.nextInt(5).toLong,
      rnd.nextInt(30).toLong * 1000L, Seq("x", "y")(rnd.nextInt(2))))
    assert(Snapshots.scd2(scd2Df(rows).repartition(13), "user_id", "ts",
      Seq("event_type")).count() ===
      Snapshots.scd2(scd2Df(rows), "user_id", "ts", Seq("event_type")).count())
    intercept[IllegalArgumentException](
      Snapshots.scd2(scd2Df(rows), "user_id", "ts", Seq.empty))
  }

  test("scd2 + asof lookup: every event resolves to the run covering it") {
    // observations A(10) A(20) B(30) A(40) → versions A@10 v1, B@30 v2,
    // A@40 v3; each event's lookup returns the run containing its ts
    val rows = Seq((1L, 10L, "A"), (1L, 20L, "A"), (1L, 30L, "B"), (1L, 40L, "A"))
    val ev = scd2Df(rows).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"))
    val hist = Snapshots.scd2(scd2Df(rows), "user_id", "ts", Seq("event_type"))
      .select(col("user_id"), unix_micros(col("valid_from")).as("vf_us"),
        col("event_type"), col("version_n"))
    val got = graft.api.AsofJoin.asofJoin(ev, hist, "user_id", "ts_us", "vf_us",
      Seq("event_type", "version_n"), "version_n")
      .collect().map(r => r.getLong(2) ->
        (r.getString(3), r.getLong(4))).toMap
    assert(got == Map(10L -> ("A", 1L), 20L -> ("A", 1L),
      30L -> ("B", 2L), 40L -> ("A", 3L)))
  }

  test("Snapshots.diff: added/removed/changed classified, unchanged dropped") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("doc_id", "text", "v")
    val next = Seq((1L, "a", 10L),   // unchanged
        (2L, "B2", 20L),             // changed (text)
        (4L, "d", 41L),              // changed (v)
        (9L, "new", 90L))            // added; 3 removed
      .toDF("doc_id", "text", "v")
    val got = Snapshots.diff(base, next, Seq("doc_id"), Seq("text", "v"))
      .select("doc_id", "change")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "changed"), (3L, "removed"), (4L, "changed"), (9L, "added")))
    // includeUnchanged surfaces key 1; NULL payload digests as the sentinel,
    // so NULL vs non-NULL is a change, NULL vs NULL is not
    val all = Snapshots.diff(base, next, Seq("doc_id"), Seq("text", "v"),
      includeUnchanged = true)
    assert(all.count() == 5)
    val withNull = Seq((1L, null.asInstanceOf[String], 10L)).toDF("doc_id", "text", "v")
    assert(Snapshots.diff(base, withNull.unionByName(base.filter($"doc_id" =!= 1)),
      Seq("doc_id"), Seq("text", "v")).select("doc_id", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "changed")))
    assert(Snapshots.diff(withNull, withNull, Seq("doc_id"), Seq("text", "v"))
      .count() == 0)
  }

  test("Curation.perplexityBuckets: ntile sizes, order, label orientation") {
    // 7 rows in one group: ntile(3) → sizes 3,2,2 along ascending score
    val scored = Seq((1L, "en", 50L), (2L, "en", 10L), (3L, "en", 30L),
        (4L, "en", 20L), (5L, "en", 60L), (6L, "en", 40L), (7L, "en", 70L),
        (8L, "de", 5L), (9L, "de", 6L))
      .toDF("doc_id", "lang", "mean_centibits")
    val got = Curation.perplexityBuckets(scored)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    // en ascending: 10,20,30 → head; 40,50 → middle; 60,70 → tail
    assert(got(2L) == (1L, "head") && got(4L) == (1L, "head") && got(3L) == (1L, "head"))
    assert(got(6L) == (2L, "middle") && got(1L) == (2L, "middle"))
    assert(got(5L) == (3L, "tail") && got(7L) == (3L, "tail"))
    // two-doc group: bucket 1 (head) and 2 (middle — never 'tail' label
    // unless bucket == nBuckets)
    assert(got(8L) == (1L, "head") && got(9L) == (2L, "middle"))
    // ties broken by id: equal scores split deterministically
    val tied = Seq((1L, "en", 5L), (2L, "en", 5L), (3L, "en", 5L))
      .toDF("doc_id", "lang", "mean_centibits")
    val t = Curation.perplexityBuckets(tied)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(t == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  // --- Unicode normalization ---

  test("normalizeText: NFC composition, lowering, whitespace collapse") {
    val fixture = Seq(
      (1L, "CAFE\u0301  et  creme"), // decomposed E+U+0301 must compose
      (2L, "  Tabs\there\nand\rthere  "),
      (3L, "already normal")).toDF("doc_id", "text")
    val got = fixture
      .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "caf\u00e9 et creme") // U+00E9 is ONE composed code point
    assert(got(1L).length == 13)
    assert(got(2L) == "tabs here and there")
    assert(got(3L) == "already normal")
  }

  // --- PII detection / redaction ---

  test("Pii.scrub: counts and redaction on a mixed fixture") {
    val fixture = Seq(
      (1L, "reach john.doe+spam@mail.example.org or 555-123-4567, host 192.168.0.1."),
      (2L, "two mails a@b.io and c.d@e-f.org; no phone; 10.0.0.1 10.0.0.2"),
      (3L, "no pii at all, just words and numbers like 12345 and 1.5"),
      (4L, "")).toDF("doc_id", "text")
    val got = Pii.scrub(fixture, "text")
      .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1 && got(1L)._3 == 1)
    assert(got(1L)._4 == "reach <EMAIL> or <PHONE>, host <IP>.")
    assert(got(2L) == ((2L, 0L, 2L, "two mails <EMAIL> and <EMAIL>; no phone; <IP> <IP>")))
    assert(got(3L) == ((0L, 0L, 0L, "no pii at all, just words and numbers like 12345 and 1.5")))
    assert(got(4L) == ((0L, 0L, 0L, "")))
  }

  test("Pii.scrub is idempotent: a redacted corpus re-scrubs to zero findings") {
    val fixture = Seq(
      (1L, "reach john.doe+spam@mail.example.org or 555-123-4567, host 192.168.0.1."))
      .toDF("doc_id", "text")
    val once = Pii.scrub(fixture, "text").select(col("doc_id"), col("redacted").as("text"))
    val twice = Pii.scrub(once, "text").select("n_emails", "n_phones", "n_ips", "redacted").head()
    assert(twice.getLong(0) == 0 && twice.getLong(1) == 0 && twice.getLong(2) == 0)
    assert(twice.getString(3) == "reach <EMAIL> or <PHONE>, host <IP>.")
  }

  // --- MMR re-ranking ---

  /** Serial greedy MMR replica: rank 1 = argmax rel (tie id asc), then
    * argmax λ·rel − (1000−λ)·max-sim-to-selected; missing sims are 0. */
  private def bruteMmr(cands: Seq[(Long, Long, Long)],
                       sims: Map[(Long, Long, Long), Long],
                       k: Int, lam: Long): Seq[(Long, Long, Long, Long)] = {
    def sim(q: Long, a: Long, b: Long): Long =
      sims.getOrElse((q, a, b), sims.getOrElse((q, b, a), 0L))
    cands.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      var remaining = cs.map(c => (c._2, c._3))
      var selected = Vector.empty[(Long, Long, Long, Long)]
      for (r <- 1 to math.min(k, cs.size)) {
        val scored = remaining.map { case (id, rel) =>
          val pen = if (r == 1) 0L
            else selected.map(s => sim(q, id, s._2)).max
          (id, lam * rel - (1000 - lam) * (if (r == 1) 0L else pen))
        }
        val (id, sc) = scored.minBy { case (i, s) => (-s, i) }
        selected :+= ((q, id, sc, r.toLong))
        remaining = remaining.filterNot(_._1 == id)
      }
      selected
    }
  }

  test("mmrRerank == serial greedy replica on random integer data") {
    val rnd = new scala.util.Random(11)
    val cands = for (q <- 0L until 3L; i <- 0 until 10)
      yield (q, (q * 100 + i), rnd.nextInt(1000).toLong)
    // sims for ~70% of pairs (missing pairs must score as 0)
    val sims = (for (q <- 0L until 3L; a <- 0 until 10; b <- a + 1 until 10
                     if rnd.nextInt(10) < 7)
      yield ((q, q * 100 + a, q * 100 + b), rnd.nextInt(800).toLong)).toMap
    val candsDf = cands.toDF("qid", "id", "rel")
    val simsDf = sims.toSeq.map { case ((q, a, b), s) => (q, a, b, s) }
      .toDF("qid", "a", "b", "sim")
    val got = Similarity.mmrRerank(candsDf, simsDf, k = 5, lambdaPermille = 600)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == bruteMmr(cands, sims, 5, 600L).toSet)
    // λ=1000: no penalty — MMR degenerates to pure-relevance top-k
    val pure = Similarity.mmrRerank(candsDf, simsDf, k = 4, lambdaPermille = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val topRel = cands.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      cs.sortBy(c => (-c._3, c._2)).take(4).zipWithIndex
        .map { case (c, i) => (q, c._2, (i + 1).toLong) }
    }.toSet
    assert(pure == topRel)
  }

  test("mmrRerank: diversity penalty reorders; k caps; validation") {
    // query 0: b(90) and c(85) are near-dups of a(100); d(40) is distant.
    // Pure relevance picks a,b,c; MMR at λ=500 must pick a,d before b/c.
    val cands = Seq((0L, 1L, 100L), (0L, 2L, 90L), (0L, 3L, 85L), (0L, 4L, 40L))
      .toDF("qid", "id", "rel")
    val sims = Seq((0L, 1L, 2L, 95L), (0L, 1L, 3L, 93L), (0L, 2L, 3L, 94L),
      (0L, 1L, 4L, 5L), (0L, 2L, 4L, 6L), (0L, 3L, 4L, 7L))
      .toDF("qid", "a", "b", "sim")
    val got = Similarity.mmrRerank(cands, sims, k = 2, lambdaPermille = 500)
      .collect().map(r => (r.getLong(3), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 4L)) // rank1 = a, rank2 = d
    // k beyond the candidate count emits every candidate exactly once
    val all = Similarity.mmrRerank(cands, sims, k = 9, lambdaPermille = 500)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(all == Seq(1L, 2L, 3L, 4L))
    // symmetrization: sims given in one orientation only still penalize
    // both directions (b=2 was penalized via sim(1,2) above)
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(cands, sims, k = 0, lambdaPermille = 500))
    intercept[IllegalArgumentException](
      Similarity.mmrRerank(cands, sims, k = 2, lambdaPermille = 1001))
  }

  test("vocabDrift: appearing/vanishing/shifting vocabulary, minCount floor") {
    import spark.implicits._
    val oldDf = ((1 to 50).map(i => (s"o$i", "aaa bbb")) ++
      (1 to 50).map(i => (s"o2$i", "aaa gone"))).toDF("doc_id", "text")
    val newDf = ((1 to 50).map(i => (s"n$i", "aaa bbb")) ++
      (1 to 50).map(i => (s"n2$i", "aaa fresh"))).toDF("doc_id", "text")
    val r = TextAnalysis.vocabDrift(oldDf, newDf, topK = 10, minCount = 5L)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(5))).toMap
    // "gone" vanished (250‰ → 0), "fresh" appeared (0 → 250‰), both top
    assert(r("gone") == ((50L, 0L, -250L)))
    assert(r("fresh") == ((0L, 50L, 250L)))
    assert(r("aaa") == ((100L, 100L, 0L))) // stable share, zero delta
    // a token below minCount in BOTH snapshots never reports
    val withRare = TextAnalysis.vocabDrift(
      oldDf.union(Seq(("x", "rare")).toDF("doc_id", "text")), newDf,
      topK = 50, minCount = 5L)
    assert(withRare.filter($"token" === "rare").count() == 0L)
  }

  test("distinctiveTerms: lift ranks group-specific tokens first; shared tokens last") {
    import spark.implicits._
    // group a: "alpha" dominates and is a-specific; both groups share "common"
    val docs = (
      (1 to 30).map(i => (s"a$i", "a", "alpha common word")) ++
      (1 to 30).map(i => (s"b$i", "b", "beta common word"))
    ).toDF("doc_id", "source", "text")
    val r = TextAnalysis.distinctiveTerms(docs, topK = 2, minCount = 5L)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getString(2), x.getLong(4)))
    val a = r.filter(_._1 == "a").sortBy(_._2)
    // rank 1 for group a must be its exclusive token with lift ~2000
    // (share_g 333‰ vs share_all 166‰), ahead of the shared tokens (~1000)
    assert(a.head._3 == "alpha", a.mkString(","))
    assert(a.head._4 > 1500L && a.head._4 <= 2100L, a.head.toString)
    val b = r.filter(_._1 == "b").sortBy(_._2)
    assert(b.head._3 == "beta")
    // shared tokens score ~parity (1000‰) — never above an exclusive one
    assert(a.tail.forall(_._4 <= a.head._4))
    // minCount floors noise: a token with < minCount occurrences never ranks
    val withRare = docs.union(Seq(("x", "a", "rareword")).toDF("doc_id", "source", "text"))
    val rr = TextAnalysis.distinctiveTerms(withRare, topK = 5, minCount = 5L)
      .filter($"token" === "rareword").count()
    assert(rr == 0L)
  }

  test("wordShingleHashes/minhashLshPairsWords: tokenizer parity, brute differential") {
    import spark.implicits._
    import graft.text.TextCore
    // word shingles ignore punctuation/whitespace noise entirely
    assert(TextCore.wordShingleHashes("the quick brown fox", 2).toSeq ==
      TextCore.wordShingleHashes("The  QUICK!! brown... 42 fox", 2).toSeq)
    // shingle identity: same token sequence, same hashes; shifted differs
    val a = TextCore.wordShingleHashes("a b c d", 2)
    assert(a.length == 3 && a.toSeq == a.sorted.toSeq) // sorted distinct
    assert(TextCore.wordNgramJaccard("a b c d", "a b c d", 2) == 1.0)
    assert(TextCore.wordNgramJaccard("a b c", "x y z", 2) == 0.0)
    // short-text convention: < n tokens → one whole-doc shingle
    assert(TextCore.wordShingleHashes("one two", 13).length == 1)
    assert(TextCore.wordShingleHashes("", 13).isEmpty)
    assert(TextCore.wordNgramJaccard("one two", "ONE-two!", 13) == 1.0)
    // brute-force differential: 40 docs, half mutated copies, word unit
    val rnd = new scala.util.Random(7)
    val vocab = Vector("spark", "table", "scan", "merge", "join", "row",
      "batch", "fast", "slow", "key")
    def doc(): String = (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val originals = (0L until 20L).map(i => (i, doc()))
    val mutated = originals.map { case (i, t) =>
      val toks = t.split(" ").toVector
      val m = if (i % 2 == 0) toks.updated(5, "mutant") else toks // half near-dups
      (i + 100L, m.mkString(" "))
    }
    val docs = (originals ++ mutated).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairsWords(docs, "doc_id", "text",
        shingleWords = 5, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = (originals ++ mutated)
    val expected = (for {
      (ia, ta) <- all; (ib, tb) <- all if ia < ib
      if TextCore.wordNgramJaccard(ta, tb, 5) >= 0.5
    } yield (ia, ib)).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "fixture produced no qualifying pairs — vacuous")
  }

  test("binaryEval: hand-computed confusion + tie-corrected exact AUC; validation") {
    import spark.implicits._
    // scores: pos at {3, 5, 5, 9}, neg at {1, 5, 7} — one three-way tie at 5.
    // Pairwise over 4x3=12 (pos, neg) pairs: pos3 beats neg1 (1);
    // pos5,pos5 each beat neg1 (2) and half-tie neg5 (2*0.5);
    // pos9 beats all three (3) → AUC = (1+2+1+3)/12 = 7/12 = 0.5833…
    val rows = Seq((1L, 3L), (1L, 5L), (1L, 5L), (1L, 9L),
      (0L, 1L), (0L, 5L), (0L, 7L)).toDF("label", "score")
    val r = Evaluation.binaryEval(rows, "label", "score", threshold = 5L).head()
    val m = r.getValuesMap[Long](r.schema.fieldNames)
    assert(m("n") == 7L && m("n_pos") == 4L && m("n_neg") == 3L)
    assert(m("tp") == 3L && m("fn") == 1L) // pos >= 5: the two 5s and the 9
    assert(m("fp") == 2L && m("tn") == 1L) // neg >= 5: the 5 and the 7
    assert(m("precision_permille") == 600L) // 3/5
    assert(m("recall_permille") == 750L)    // 3/4
    assert(m("f1_permille") == 666L)        // 6/9 floored
    assert(m("auc_permille") == 583L)       // 7/12 floored
    // null label/score rows drop, not corrupt
    val withNulls = rows.union(Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(4L)),
      (java.lang.Long.valueOf(1L), null.asInstanceOf[java.lang.Long])).toDF("label", "score"))
    assert(Evaluation.binaryEval(withNulls, "label", "score", 5L).head()
      .getAs[Long]("n") == 7L)
    // label outside 0/1 throws rather than corrupting tallies
    intercept[IllegalArgumentException] {
      Evaluation.binaryEval(Seq((2L, 1L)).toDF("label", "score"), "label", "score", 0L)
    }
    // distinct-score cap throws with quantize guidance
    intercept[IllegalArgumentException] {
      Evaluation.binaryEval(
        spark.range(100).selectExpr("id % 2 AS label", "id AS score"),
        "label", "score", 0L, maxDistinctScores = 10L)
    }
    // perfect separation → AUC 1000; reversed → 0
    val perfect = Seq((1L, 10L), (1L, 9L), (0L, 2L), (0L, 1L)).toDF("label", "score")
    assert(Evaluation.binaryEval(perfect, "label", "score", 9L).head()
      .getAs[Long]("auc_permille") == 1000L)
    val reversed = Seq((0L, 10L), (0L, 9L), (1L, 2L), (1L, 1L)).toDF("label", "score")
    assert(Evaluation.binaryEval(reversed, "label", "score", 9L).head()
      .getAs[Long]("auc_permille") == 0L)
  }

  test("binaryEval: the scoped tally cache is released (no lingering entries)") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = Seq((1L, 3L), (0L, 1L)).toDF("label", "score")
    Evaluation.binaryEval(rows, "label", "score", 2L).count()
    Evaluation.binaryEval(rows, "label", "score", 2L).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"binaryEval left ${leaked.size} cached RDDs in the session")
  }

  test("calibrationBins: integer equal-width bins, rate and mean replay") {
    import spark.implicits._
    // scores 0..9 with labels = 1 for score >= 6: bins=5 over [0, 9],
    // width arithmetic bin = (s - 0) * 5 div 10 → {0,1,2,3,4} × 2 each
    val rows = (0L to 9L).map(s => (if (s >= 6) 1L else 0L, s)).toDF("label", "score")
    val r = Evaluation.calibrationBins(rows, "label", "score", bins = 5)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(r(0L) == ((2L, 0L, 0L, 0L)))     // scores 0,1
    assert(r(2L) == ((2L, 0L, 0L, 4L)))     // scores 4,5 → mean 4 (floored)
    assert(r(3L) == ((2L, 2L, 1000L, 6L)))  // scores 6,7 → both positive
    assert(r(4L) == ((2L, 2L, 1000L, 8L)))  // scores 8,9
    // empty input → empty frame, not a crash
    assert(Evaluation.calibrationBins(rows.limit(0), "label", "score").count() == 0L)
    // a raw-64-bit score range would overflow the bin product — throws
    // with quantize guidance instead of emitting negative bins
    intercept[IllegalArgumentException] {
      Evaluation.calibrationBins(
        Seq((0L, Long.MinValue), (1L, Long.MaxValue)).toDF("label", "score"),
        "label", "score", bins = 10).count()
    }
  }

  test("clusterCanonical: score argmax, id tie-break, nulls last, one keeper per cluster") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),   // cluster 1
      (10L, 10L), (11L, 10L),                        // cluster 10: score tie
      (20L, 20L), (21L, 20L)                         // cluster 20: all-null scores
    ).toDF("id", "cluster")
    val docs = Seq(
      (1L, Some(5L)), (2L, Some(9L)), (3L, Some(9L)), // 2 wins (9, tie → min id)
      (10L, Some(4L)), (11L, Some(4L)),               // 10 wins (tie → min id)
      (20L, None), (21L, None)                        // null scores → min id 20
    ).toDF("doc_id", "score")
    val r = Dedup.clusterCanonical(labels, docs, "doc_id", "score")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) == ((1L, 2L, 0L)) && r(2L) == ((1L, 2L, 1L)) && r(3L) == ((1L, 2L, 0L)))
    assert(r(10L) == ((10L, 10L, 1L)) && r(11L) == ((10L, 10L, 0L)))
    assert(r(20L) == ((20L, 20L, 1L)) && r(21L) == ((20L, 20L, 0L)))
    // exactly one keeper per cluster
    val perCluster = r.values.groupBy(_._1).view.mapValues(_.count(_._3 == 1L)).toMap
    assert(perCluster.values.forall(_ == 1))
    // null score loses to ANY scored member: mixed cluster
    val r2 = Dedup.clusterCanonical(
      Seq((30L, 30L), (31L, 30L)).toDF("id", "cluster"),
      Seq((30L, None), (31L, Some(1L))).toDF("doc_id", "score"),
      "doc_id", "score")
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(r2 == Map(30L -> 0L, 31L -> 1L))
  }

  test("decontaminate: planted quote, short-benchmark whole-gram, clean zeros, case/punct fold") {
    import spark.implicits._
    val benchDoc = "which ocean covers the largest fraction of the planet earth surface area today"
    val bench = Seq(
      (100L, benchDoc),              // 13 tokens → one 13-gram (itself)
      (101L, "tiny eval row")        // 3 tokens → whole-text gram
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // quotes the benchmark question verbatim inside original prose
      (1L, "some long original page... " + benchDoc + " ...and then continues"),
      // case/punct variations fold to the same [a-z]+ token stream
      (2L, "WHICH Ocean, covers the largest (fraction) of the PLANET earth SURFACE area today?!"),
      // shares 12 of 13 words — no full 13-gram window matches
      (3L, "which ocean covers the largest fraction of the planet earth surface area tomorrow"),
      // contains the short benchmark text but only as PART of longer
      // windows (its own gram set is 13-grams, never the 3-token gram)
      (4L, "a tiny eval row sits quoted in here " + ("padding words repeat " * 3)),
      (5L, "entirely unrelated content with nothing shared at all")
    ).toDF("doc_id", "text")
    val r = Curation.decontaminate(corpus, "doc_id", "text", bench)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L)._2 == 1L && r(1L)._1 >= 1L, s"verbatim quote must flag: $r")
    assert(r(2L) == ((1L, 1L)), s"case/punct fold must flag exactly the one gram: $r")
    assert(r(3L) == ((0L, 0L)), "12-of-13 shared words is NOT a collision")
    assert(r(4L) == ((0L, 0L)),
      "a short benchmark's whole-text gram must not match inside longer docs")
    assert(r(5L) == ((0L, 0L)))
    assert(r.size == 5, "every corpus doc must appear, zeros included")
    // a corpus doc SHORTER than n tokens collides via its whole-text gram
    val shortTrain = Seq((9L, "tiny eval row")).toDF("doc_id", "text")
    val r2 = Curation.decontaminate(shortTrain, "doc_id", "text", bench)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r2(9L) == 1L)
    intercept[IllegalArgumentException](
      Curation.decontaminate(corpus, "doc_id", "text", bench, ngramWords = 0))
  }

  test("blocklistStats: word boundaries, adjacent repeats, phrases, totality") {
    import spark.implicits._
    val docs = Seq(
      (1L, "bad badge bad"),          // "badge" must NOT match "bad"; 2 hits
      (2L, "bad bad bad"),            // adjacent repeats each count: 3
      (3L, "a hot garbage dump"),     // phrase "hot garbage" hits once
      (4L, "hot and garbage apart"),  // split phrase tokens: NO phrase hit
      (5L, "Bad, HOT-garbage bad!"),  // case/punct-insensitive: 2 + 1
      (6L, "clean words only"),       // clean
      (7L, null.asInstanceOf[String]), // null text → 0 tokens, clean
      (8L, "a a a")                   // self-overlapping phrase "a a": greedy = 1
    ).toDF("doc_id", "text")
    val r = Curation.blocklistStats(docs, Seq("bad", "hot garbage", "a a"))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    assert(r(1L) == ((3L, 2L, 1L, 666L, 0L)))
    assert(r(2L) == ((3L, 3L, 1L, 1000L, 0L)))
    assert(r(3L) == ((4L, 1L, 1L, 250L, 0L)))
    assert(r(4L) == ((4L, 0L, 0L, 0L, 1L)))   // boundary: phrase needs adjacency
    assert(r(5L) == ((4L, 3L, 2L, 750L, 0L))) // "Bad," + "bad!" + "HOT-garbage"
    assert(r(6L) == ((3L, 0L, 0L, 0L, 1L)))
    assert(r(7L) == ((0L, 0L, 0L, 0L, 1L)))   // null-total
    assert(r(8L) == ((3L, 1L, 1L, 333L, 0L))) // greedy non-overlap
    // entries with no [a-z]+ content are rejected loudly
    intercept[IllegalArgumentException](
      Curation.blocklistStats(docs, Seq("bad", "42")))
    intercept[IllegalArgumentException](
      Curation.blocklistStats(docs, Seq.empty))
  }

  test("hardNegatives: brute-force argmax parity, tie-to-min-id, droppers") {
    import spark.implicits._
    val all = embs.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val anchors = all.filter(_._1 < 5)
    val brute = anchors.flatMap { case (aid, av, albl) =>
      val others = all.filter(_._1 != aid)
      val pos = others.filter(_._3 == albl)
        .sortBy(t => (-cos(t._2, av), t._1)).headOption
      val neg = others.filter(_._3 != albl)
        .sortBy(t => (-cos(t._2, av), t._1)).headOption
      for (p <- pos; m <- neg) yield aid -> (p._1, m._1)
    }.toMap
    val got = Similarity.hardNegatives(embs.filter($"vec_id" < 5), embs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == brute && got.nonEmpty)
    // an anchor whose label is unique in the corpus drops (no positive)
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f), 7), (2L, Array(0.9f, 0.1f), 8),
      (3L, Array(0.0f, 1.0f), 8)).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(tiny.filter($"vec_id" === 1), tiny)
    assert(r.collect().isEmpty)
  }

  test("preference leaderboard: tallies, winrate, Wilson LCB vs brute scalar") {
    import spark.implicits._
    // item 1 beats item 2 three times, loses once; item 3 plays once
    val pairs = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L), (3L, 2L))
      .toDF("winner", "loser")
    val r = Preference.leaderboard(pairs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).toMap
    assert(r(1L)._1 == 3L && r(1L)._2 == 1L && r(1L)._3 == 4L)
    assert(r(3L) == ((1L, 0L, 1L, 1000L, r(3L)._5)))
    // brute scalar replay of the integer Wilson form for every item
    def isqrt(x: Long): Long = { var s = math.sqrt(x.toDouble).toLong
      while (s * s > x) s -= 1; while ((s + 1) * (s + 1) <= x) s += 1; s }
    for ((_, (w, l, n, wr, lcb)) <- r) {
      assert(wr == w * 1000 / n)
      val bigr = (w * l / n) * 1000000L + ((w * l % n) * 1000000L) / n + 1000000L
      val expect = math.max((1000L * (w + 2) - 2 * isqrt(bigr)) / (n + 4), 0L)
      assert(lcb == expect, s"wilson mismatch: $lcb vs $expect (w=$w n=$n)")
    }
    // LCB must rank a 3-0 item above a 1-0 item (the small-sample rule)
    val r2 = Preference.leaderboard(
      Seq((7L, 8L), (7L, 9L), (7L, 8L), (5L, 6L)).toDF("winner", "loser"))
      .collect().map(x => x.getLong(0) -> x.getLong(5)).toMap
    assert(r2(7L) > r2(5L))
    // monotonicity: LCB strictly below the raw winrate for finite n
    assert(r(1L)._5 < r(1L)._4)
  }

  test("agreementKappa: perfect, chance-level, and partial agreement") {
    import spark.implicits._
    val perfect = Seq((0L, 0L), (1L, 1L), (2L, 2L), (0L, 0L))
      .toDF("a", "b")
    val p = Preference.agreementKappa(perfect, "a", "b").head
    assert(p.getAs[Long]("kappa_permille") == 1000L)
    // rater B constant: pe == po → kappa 0 via the guarded denominator
    val constant = Seq((0L, 0L), (1L, 0L), (0L, 0L), (1L, 0L)).toDF("a", "b")
    val c = Preference.agreementKappa(constant, "a", "b").head
    assert(c.getAs[Long]("po_permille") == 500L)
    assert(c.getAs[Long]("pe_permille") == 500L)
    assert(c.getAs[Long]("kappa_permille") == 0L)
    // textbook 2x2: n=100, agree=60, marginals A(50,50) B(60,40) → pe=.5
    // kappa = (0.6-0.5)/0.5 = 0.2
    val rows = Seq.fill(35)((0L, 0L)) ++ Seq.fill(15)((0L, 1L)) ++
      Seq.fill(25)((1L, 0L)) ++ Seq.fill(25)((1L, 1L))
    val k = Preference.agreementKappa(rows.toDF("a", "b"), "a", "b").head
    assert(k.getAs[Long]("n_items") == 100L)
    assert(k.getAs[Long]("n_agree") == 60L)
    assert(k.getAs[Long]("po_permille") == 600L)
    assert(k.getAs[Long]("pe_permille") == 500L)
    assert(k.getAs[Long]("kappa_permille") == 200L)
  }

  test("apportion: exact budget, largest-remainder order, guards") {
    import spark.implicits._
    val w = Seq(("a", 4L), ("b", 3L), ("c", 2L), ("d", 1L)).toDF("src", "n")
    val r = Sampling.apportion(w, "src", "n", budget = 10L)
      .collect().map(x => x.getString(0) -> x.getLong(4)).toMap
    // budget == total weight: pure proportional
    assert(r == Map("a" -> 4L, "b" -> 3L, "c" -> 2L, "d" -> 1L))
    // budget 7 over (4,3,2,1)/10: floors (2,2,1,0), rems (8,1,4,7)
    // → two extras go to a (8) and d (7)
    val r7 = Sampling.apportion(w, "src", "n", budget = 7L)
      .collect().map(x => x.getString(0) -> (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r7("a") == ((2L, 1L, 3L)))
    assert(r7("b") == ((2L, 0L, 2L)))
    assert(r7("c") == ((1L, 0L, 1L)))
    assert(r7("d") == ((0L, 1L, 1L)))
    assert(r7.values.map(_._3).sum == 7L)
    // remainder ties break by key ascending: equal weights, one extra
    val tie = Seq(("x", 1L), ("y", 1L), ("z", 1L)).toDF("src", "n")
    val rt = Sampling.apportion(tie, "src", "n", budget = 4L)
      .collect().map(x => x.getString(0) -> x.getLong(4)).toMap
    assert(rt == Map("x" -> 2L, "y" -> 1L, "z" -> 1L))
    // zero total weight fails loudly
    val zero = Seq(("x", 0L)).toDF("src", "n")
    intercept[Exception](Sampling.apportion(zero, "src", "n", 5L).collect())
  }

  // --- job groups: a gate that starts jobs from a second driver thread keeps
  // them in the caller's group, so cancelJobGroup reaches all of them ---

  test("q_dedup_keeplist_incr starts every job in the caller's job group") {
    val sc = spark.sparkContext
    // make every thread of the global pool exist under another group first:
    // a pooled thread keeps the local properties it was created with
    val n = Runtime.getRuntime.availableProcessors
    val allUp = new CountDownLatch(n)
    sc.setJobGroup("graft-test-elsewhere", "pool warm-up")
    try {
      val warm = (1 to n).map(_ => Future {
        allUp.countDown(); allUp.await(10, TimeUnit.SECONDS)
      }(ExecutionContext.global))
      warm.foreach(Await.result(_, 30.seconds))
    } finally sc.clearJobGroup()

    val group = "graft-test-keeplist-incr"
    val (start, end) = ("graft-test-start", "graft-test-end")
    val started = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[String]()
    // job-start events arrive in order on the listener bus: jobs in the
    // marker groups delimit the ones the gate starts
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
        if (g == start) started.countDown()
        else if (g == end) done.countDown()
        else if (started.getCount == 0 && done.getCount == 1) seen.add(g)
      }
    }
    def marker(g: String): Unit = {
      sc.setJobGroup(g, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker(start)
      assert(started.await(60, TimeUnit.SECONDS))
      sc.setJobGroup(group, "keeplist-incr under a job group", interruptOnCancel = true)
      try SparkEntry.queries("q_dedup_keeplist_incr")(spark, sf).count()
      finally sc.clearJobGroup()
      marker(end)
      assert(done.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val groups = seen.asScala.toSeq
    assert(groups.nonEmpty)
    assert(groups.forall(_ == group), groups.groupBy(identity).map { case (g, v) => g -> v.size })
  }
}
