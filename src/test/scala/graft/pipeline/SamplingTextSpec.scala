package graft.pipeline

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingTextSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  lazy val orders = spark.read.parquet(s"$sf/orders.parquet").cache()
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  test("deterministicFraction: partition-invariant selection, ~p of rows") {
    val base = Sampling.deterministicFraction(orders, "o_orderkey", 0.2)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    for (parts <- Seq(1, 7, 64)) {
      val again = Sampling.deterministicFraction(
        orders.repartition(parts), "o_orderkey", 0.2)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      assert(again == base, s"selection changed at $parts partitions")
    }
    val n = orders.count().toDouble
    assert(math.abs(base.size / n - 0.2) < 0.05, s"${base.size} of $n")
    // monotone: a smaller fraction is a subset of a larger one
    val small = Sampling.deterministicFraction(orders, "o_orderkey", 0.05)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(base))
  }

  test("fractionThresholdHex: endpoints and width") {
    assert(Sampling.fractionThresholdHex(0.0) == "0" * 32)
    assert(Sampling.fractionThresholdHex(1.0) == "f" * 32)
    assert(Sampling.fractionThresholdHex(0.5).startsWith("80000"))
    assert(Sampling.fractionThresholdHex(0.1).length == 32)
  }

  test("perGroupDeterministic: exact per-group cap, partition-invariant") {
    val k = 7
    val base = Sampling.perGroupDeterministic(
      orders, Seq("o_orderpriority"), "o_orderkey", k)
    val sizes = base.groupBy("o_orderpriority").count().collect()
    val groupTotals = orders.groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { r =>
      assert(r.getLong(1) == math.min(k.toLong, groupTotals(r.getString(0))), r)
    }
    val baseSet = base.select("o_orderkey").collect().map(_.getLong(0)).toSet
    val again = Sampling.perGroupDeterministic(
      orders.repartition(13), Seq("o_orderpriority"), "o_orderkey", k)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(again == baseSet)
  }

  test("weightedSample: brute replica, nesting, weight hygiene, invariance") {
    // independent replica: 60-bit md5 prefix div weight, (pri, h, id) order
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def brute(rows: Seq[(Long, String, Long)], k: Int): Set[Long] =
      rows.filter(_._3 >= 1)
        .map { case (id, g, w) =>
          val h = java.lang.Long.parseLong(md5hex(id.toString).take(15), 16)
          (g, h / w, h, id)
        }
        .groupBy(_._1).values.flatMap(_.sortBy(t => (t._2, t._3, t._4))
          .take(k).map(_._4)).toSet
    val rnd = new scala.util.Random(5)
    val rows = (0L until 300L).map(i =>
      (i, s"g${i % 4}", (rnd.nextInt(10) - 1).toLong)) // weights -1..8
    val df = rows.toDF("id", "grp", "w")
    val got = Sampling.weightedSample(df, Seq("grp"), "id", "w", 6)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == brute(rows, 6))
    // nesting: k=3 sample is a subset of the k=6 sample
    val small = Sampling.weightedSample(df, Seq("grp"), "id", "w", 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(got) && small.size == 12)
    // partition invariance
    val rep = Sampling.weightedSample(df.repartition(11), Seq("grp"), "id", "w", 6)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rep == got)
    // hygiene: null and fractional-below-1 weights drop like non-positive
    val hyg = Seq((1L, "a", Some(0.6)), (2L, "a", Some(2.0)), (3L, "a", None))
      .toDF("id", "grp", "w")
    assert(Sampling.weightedSample(hyg, Seq("a").map(_ => "grp"), "id", "w", 5)
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L))
    intercept[IllegalArgumentException](
      Sampling.weightedSample(df, Seq("grp"), "id", "w", 0))
  }

  test("weightedSample: heavier rows win proportionally more slots") {
    // one group, 60 heavy rows (w=9) among 240 light (w=1): a k=60
    // sample should over-represent heavy rows ~9x per capita
    val rows = (0L until 300L).map(i =>
      (i, "g", if (i % 5 == 0) 9L else 1L))
    val df = rows.toDF("id", "grp", "w")
    val picked = Sampling.weightedSample(df, Seq("grp"), "id", "w", 60)
      .select("id").collect().map(_.getLong(0)).toSet
    val heavy = picked.count(_ % 5 == 0)
    // expectation ≈ 60·(60·9)/(60·9+240) = 41.5 heavy; light ≈ 18.5.
    // deterministic fixture — assert the direction with a wide margin
    assert(heavy > 30, s"heavy picked: $heavy of ${picked.size}")
    assert(picked.size == 60)
  }

  test("lexicalStats: hand-built corpus replica; null/empty totality") {
    val fixture = Seq(
      (1L, "the cat sat the cat", "a"),
      (2L, "dog! dog? bird.", "a"),
      (3L, null.asInstanceOf[String], "b"),
      (4L, "", "b"),
      (5L, "Zebra zebra", "c")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.lexicalStats(fixture).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // a: 2 docs; tokens the,cat,sat,the,cat,dog,dog,bird = 8; types 5
    // (the,cat,sat,dog,bird); hapax sat,bird = 2; ttr 5000 div 8 = 625;
    // hapax share 2000 div 5 = 400
    assert(got("a") == ((2L, 8L, 5L, 2L, 625L, 400L)))
    // b: null + empty text — docs count, zero tokens, guarded divisions
    assert(got("b") == ((2L, 0L, 0L, 0L, 0L, 0L)))
    // c: case folds — zebra(2): 1 type, 0 hapax, ttr 500
    assert(got("c") == ((1L, 2L, 1L, 0L, 500L, 0L)))
    // partition invariance
    val rep = TextAnalysis.lexicalStats(fixture.repartition(7)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rep == got)
  }

  test("proportionalStratified: exact quotas, min floor, nesting, invariance") {
    val frac = 0.15
    val got = Sampling.proportionalStratified(docs, Seq("source"), "doc_id",
      frac, minPerGroup = 2)
    val sizes = got.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // quota = max(minPerGroup, floor(frac*n + 0.5)) capped at n, per group
    totals.foreach { case (g, n) =>
      val quota = math.min(n,
        math.max(2L, math.floor(frac * n + 0.5).toLong))
      assert(sizes.getOrElse(g, 0L) == quota, s"group $g: n=$n")
    }
    // a rare stratum still gets its floor: slice to 1 row for one source
    val oneSrc = docs.select("source").distinct().limit(1)
      .collect().head.getString(0)
    val tiny = docs.filter(col("source") === oneSrc).limit(1)
      .unionByName(docs.filter(col("source") =!= oneSrc))
    val tinySizes = Sampling.proportionalStratified(tiny, Seq("source"),
        "doc_id", 0.01, minPerGroup = 2)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tinySizes(oneSrc) == 1L, "floor capped at group size")
    // nesting: smaller frac selects a subset of a larger frac's rows
    val ids = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val small = Sampling.proportionalStratified(docs, Seq("source"),
        "doc_id", 0.05, minPerGroup = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(ids), "samples must nest across frac increases")
    // partition invariance
    val again = Sampling.proportionalStratified(docs.repartition(13),
        Seq("source"), "doc_id", frac, minPerGroup = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == ids)
  }

  test("temperatureResample: isqrt quotas, flattening, nesting, invariance") {
    // skewed corpus: 16 / 4 / 1 rows across three sources → isqrt weights
    // 4 / 2 / 1 (Σ = 7): α = 1/2 flattens 16:4:1 toward 4:2:1
    val rows = (1 to 16).map(i => (i.toLong, "big")) ++
      (21 to 24).map(i => (i.toLong, "mid")) ++ Seq((31L, "tiny"))
    val skewed = rows.toDF("doc_id", "source")
    val got = Sampling.temperatureResample(skewed, totalTarget = 14L)
    val sizes = got.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // quotas: floor(14*4/7)=8, floor(14*2/7)=4, floor(14*1/7)=2 capped at n=1
    assert(sizes == Map("big" -> 8L, "mid" -> 4L, "tiny" -> 1L), sizes)
    // nesting: a smaller target selects a subset of a larger target's rows
    val ids = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val small = Sampling.temperatureResample(skewed, totalTarget = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(ids), "samples must nest across target increases")
    // partition invariance
    val again = Sampling.temperatureResample(skewed.repartition(13), 14L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == ids)
    // a quota above the group size keeps the whole group, never fails
    val all = Sampling.temperatureResample(skewed, totalTarget = (1L << 37))
    assert(all.count() == skewed.count())
  }

  test("globalTrainingOrder: ordinal == global sort rank, invariant, no global window") {
    val got = Sampling.globalTrainingOrder(docs)
      .select("doc_id", "ordinal").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent replay: full driver-side sort of (md5(id), id)
    def hx(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val expected = docs.select("doc_id").collect().map(_.getLong(0))
      .sortBy(id => (hx(id.toString), id)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    assert(got == expected)
    // ordinals are a contiguous 0..n-1 permutation
    assert(got.values.toSeq.sorted == (0L until got.size.toLong))
    // partition invariance and bucket-count invariance
    val again = Sampling.globalTrainingOrder(docs.repartition(13), buckets = 7)
      .select("doc_id", "ordinal").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
    // scalability shape: the rank window partitions by bucket, never a
    // single global sort partition
    val plan = Sampling.globalTrainingOrder(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*Window.*partitionBy=\\[\\].*"), plan)
  }

  test("temperatureResample broadcasts quotas; corpus shuffles once for rank") {
    val plan = Sampling.temperatureResample(docs, 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan)
  }

  test("proportionalStratified plans one exchange for count and rank") {
    val plan = Sampling.proportionalStratified(docs, Seq("source"),
      "doc_id", 0.2).queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 <= 2, plan)
  }

  test("zipfVocab: ranks by (count desc, token asc); costs are floor(log2 rank)") {
    val tiny = Seq(
      (1L, "a a a b b c"),
      (2L, "a b d"),
      (3L, "a")).toDF("doc_id", "text")
    val got = TextAnalysis.zipfVocab(tiny, "text", topV = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // counts: a=5, b=3, c=1, d=1 → top-3 = a(1), b(2), c(3: tie c<d)
    assert(got.toSeq == Seq(("a", 1L, 0L), ("b", 2L, 1L), ("c", 3L, 1L)))
  }

  test("lmSurprisal: hand-computed bits incl. OOV; null text → null") {
    val tiny = Seq(
      (1L, "a a a b b c"),
      (2L, "a b d"),
      (3L, "a")).toDF("doc_id", "text")
    val st = TextAnalysis.lmStateFromVocab(
      TextAnalysis.zipfVocab(tiny, "text", topV = 3))
    // vocab: a→0, b→1, c→1; V=3 → OOV cost = floor(log2(4)) = 2 (d)
    val toks = split(trim(col("text")), "\\s+")
    val got = tiny.select(col("doc_id"),
        TextAnalysis.lmSurprisal(toks, st).as("bits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 0L))
    val withNull = Seq((9L, null: String)).toDF("doc_id", "text")
    val nullRow = withNull.select(
      TextAnalysis.lmSurprisal(split(trim(col("text")), "\\s+"), st)).collect()
    assert(nullRow.head.isNullAt(0))
  }

  test("oovState: lmSurprisal degenerates to an OOV counter; null totality") {
    val tiny = Seq(
      (1L, "a a a b b c"),
      (2L, "a b d"),
      (3L, "d e"),
      (4L, null: String)).toDF("doc_id", "text")
    // vocab top-2 by (count desc, token asc): a(4), b(3) — c/d/e are OOV
    val st = TextAnalysis.oovState(TextAnalysis.zipfVocab(tiny, "text", topV = 2))
    val toks = split(trim(col("text")), "\\s+")
    val got = tiny.select(col("doc_id"),
        TextAnalysis.lmSurprisal(toks, st).as("n_oov"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> -1L), got)
  }

  test("retrievalEval: hand counters, per-query grouping, zero-hit query") {
    // single query (no query cols): 3 of 4 retrieved are relevant,
    // truth has 6 docs, first relevant at rank 2
    val results = Seq((10L, 1L), (11L, 2L), (12L, 3L), (13L, 4L))
      .toDF("doc_id", "rank")
    val truth = Seq(11L, 12L, 13L, 20L, 21L, 22L).toDF("doc_id")
    val got = Evaluation.retrievalEval(results, truth).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((4L, 6L, 3L, 500L, 2L)), got)
    // grouped: query A hits at rank 1 of 2 truths; query B retrieves
    // nothing relevant -> first_rel_rank 0, recall 0
    val r2 = Seq(("A", 10L, 1L), ("A", 11L, 2L), ("B", 12L, 1L))
      .toDF("query", "doc_id", "rank")
    val t2 = Seq(("A", 10L), ("A", 99L), ("B", 98L)).toDF("query", "doc_id")
    val g2 = Evaluation.retrievalEval(r2, t2, queryCols = Seq("query"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(g2("A") == ((2L, 2L, 1L, 500L, 1L)), g2("A"))
    assert(g2("B") == ((1L, 1L, 0L, 0L, 0L)), g2("B"))
  }

  test("bm25: exact hand replica, standard retrieval semantics, total order") {
    val tiny = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "alpha beta"),
      (3L, "delta delta delta"),
      (4L, "beta beta beta beta"),
      (5L, null: String)).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(tiny, Seq("alpha", "beta"), topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // replica with the IDENTICAL op tree (N=5 incl. the null doc; Σdl=13
    // over non-null docs; df: alpha→2, beta→3)
    val n = 5L; val sumDl = 13L
    def sterm(tf: Long, dl: Long, df: Long): Double = {
      val idf = ((n - df).toDouble + 0.5) / (df.toDouble + 0.5)
      val bterm = (1.0 - 0.75) + 0.75 * (dl.toDouble / (sumDl.toDouble / n.toDouble))
      idf * ((tf.toDouble * (1.2 + 1.0)) / (tf.toDouble + 1.2 * bterm))
    }
    val want = Map( // fold order is term-sorted: alpha before beta
      1L -> ((2L, (0.0 + sterm(2, 4, 2)) + sterm(1, 4, 3))),
      2L -> ((2L, (0.0 + sterm(1, 2, 2)) + sterm(1, 2, 3))),
      4L -> ((1L, 0.0 + sterm(4, 4, 3))))
    assert(got.map(r => r._1 -> ((r._2, r._3))).toMap == want, got.toSeq)
    // no-match and null docs are not retrieved; order is (score desc, id)
    assert(!got.exists(r => r._1 == 3L || r._1 == 5L))
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq)
    // the stats row broadcasts, and the corpus is scanned exactly twice
    // (tf stream + stats; df is a window over tf, NOT a third scan — a
    // tf.groupBy branch loses ReuseExchange to column pruning)
    val plan = TextAnalysis.bm25(tiny, Seq("alpha", "beta"), topN = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    val filePlan = TextAnalysis.bm25(docs, Seq("alpha", "beta"), topN = 10)
      .queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(filePlan).length == 2, filePlan)
  }

  test("lmSurprisal scoring stage is scan-local (no exchange)") {
    val st = TextAnalysis.lmStateFromVocab(
      TextAnalysis.zipfVocab(docs, "text", topV = 50))
    val plan = docs.select(col("doc_id"),
        TextAnalysis.lmSurprisal(split(trim(col("text")), "\\s+"), st))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1) Project"), plan) // codegen'd projection
  }

  test("classifierScore: independent md5 replay, totality") {
    // independent replay: rebuild every feature's bucket/weight with raw
    // MessageDigest arithmetic (shares no code with HashedLinearState)
    val b = 64
    val weights = Array.tabulate(b)(i => (i % 7).toLong - 3L)
    def bucket(f: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (h % b).toInt
    }
    def expected(text: String, bias: Long): Long = {
      val ws = text.trim.split("\\s+", -1)
      val uni = ws.map(w => weights(bucket(w))).sum
      val bi = ws.sliding(2).filter(_.length == 2)
        .map(p => weights(bucket(p(0) + " " + p(1)))).sum
      bias + uni + bi
    }
    val st = TextAnalysis.classifierState(spark, weights, bias = 2L)
    val fixture = Seq[(java.lang.Long, String)](
      (1L, "the quick brown fox"), (2L, "single"), (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    val got = fixture.select(col("doc_id"), TextAnalysis.classifierScore(
        split(trim(col("text")), "\\s+"), st).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L) == Some(expected("the quick brown fox", 2L)))
    assert(got(2L) == Some(expected("single", 2L)))
    assert(got(3L) == Some(expected("", 2L)), "empty text scores, not nulls")
    assert(got(4L) == None, "NULL in, NULL out")
  }

  test("spanCorrupt: independent mask replay, sentinel ordinals, totality") {
    // independent selection replay: raw MessageDigest hex vs the threshold
    val p = 0.4
    val thresh = Sampling.fractionThresholdHex(p)
    def hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def masked(id: Long, block: Int): Boolean = hex(s"$id:$block") < thresh
    def expected(id: Long, text: String): (String, String, Long, Long) = {
      val ws = text.trim.split("\\s+", -1)
      val nb = (ws.length - 1) / 3 + 1
      var k = 0
      val in = Seq.newBuilder[String]; val tg = Seq.newBuilder[String]
      for (b <- 0 until nb) {
        val span = ws.slice(b * 3, b * 3 + 3)
        if (masked(id, b)) {
          in += s"<extra_id_$k>"; tg += s"<extra_id_$k>"; tg ++= span; k += 1
        } else in ++= span
      }
      (in.result().mkString(" "), tg.result().mkString(" "),
        nb.toLong, k.toLong)
    }
    val texts = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "short doc"), (3L, ""), (7L, "exactly three tokens"))
    val got = TextAnalysis.spanCorrupt(
        (texts :+ ((9L, null: String))).toDF("doc_id", "text"), p)
      .select("doc_id", "inputs", "targets", "n_blocks", "n_masked")
      .collect().map(r => r.getLong(0) -> ((Option(r.getString(1)),
        Option(r.getString(2)), r.getLong(3), r.getLong(4)))).toMap
    for ((id, t) <- texts) {
      val (in, tg, nb, nm) = expected(id, t)
      assert(got(id) == ((Some(in), Some(tg), nb, nm)), s"doc $id")
    }
    assert(got(9L) == ((None, None, 0L, 0L)), "NULL totality")
    // the fixture must actually mask something AND keep something
    assert(texts.map(_._1).map(got(_)._4).sum > 0, "nothing masked at p=0.4")
    assert(got(1L)._4 < got(1L)._3, "everything masked — fixture degenerate")
    // inputs + targets reconstruct the document: strip sentinels, re-merge
    val (in1, tg1, _, _) = expected(1L, texts.head._2)
    val spans = tg1.split("<extra_id_\\d+> ?").filter(_.nonEmpty).map(_.trim)
    var rebuilt = in1
    spans.zipWithIndex.foreach { case (s, k) =>
      rebuilt = rebuilt.replace(s"<extra_id_$k>", s)
    }
    assert(rebuilt == texts.head._2)
  }

  test("fimTransform: independent cut replay, reassembly, pass-through half") {
    def hx(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def cut32(s: String, mod: Long): Long =
      java.lang.Long.parseLong(hx(s).take(8), 16) % mod
    val thresh = Sampling.fractionThresholdHex(0.5)
    def expected(id: Long, t: String): (Long, String) = {
      val sel = hx(id.toString) < thresh
      if (!sel) (0L, t)
      else {
        val n = t.length.toLong
        val a = cut32(s"$id:a", n + 1); val b = cut32(s"$id:b", n + 1)
        val lo = math.min(a, b).toInt; val hi = math.max(a, b).toInt
        (1L, s"<PRE>${t.substring(0, lo)}<SUF>${t.substring(hi)}<MID>${t.substring(lo, hi)}")
      }
    }
    val texts = (1L to 40L).map(i => (i, s"document body number $i with some words"))
    val got = TextAnalysis.fimTransform(texts.toDF("doc_id", "text"))
      .select("doc_id", "fim", "transformed")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    texts.foreach { case (id, t) => assert(got(id) == expected(id, t), s"doc $id") }
    // both halves of the recipe occur
    assert(got.values.count(_._1 == 1L) > 0 && got.values.count(_._1 == 0L) > 0)
    // transformed docs reassemble: PRE + MID + SUF == original
    got.collect { case (id, (1L, out)) =>
      val pre = out.stripPrefix("<PRE>").takeWhile(_ != '<')
      val suf = out.substring(out.indexOf("<SUF>") + 5, out.indexOf("<MID>"))
      val mid = out.substring(out.indexOf("<MID>") + 5)
      assert(pre + mid + suf == texts(id.toInt - 1)._2, s"doc $id")
    }
    // NULL totality
    val n = TextAnalysis.fimTransform(
        Seq((99L, null: String)).toDF("doc_id", "text"))
      .select("transformed").head()
    assert(n.isNullAt(0))
  }

  test("writeTokenShards: balanced shards, lossless round trip, shard pruning") {
    val out = tempDir("shards_").toString
    val budget = 400L
    TextAnalysis.writeTokenShards(docs.filter($"text".isNotNull), out, budget)
    // partition-column inference reads pack_id back as int — normalize
    val back = spark.read.parquet(out)
      .withColumn("pack_id", col("pack_id").cast("long"))
    // lossless: every (doc_id, text) survives the round trip
    val orig = docs.filter($"text".isNotNull)
      .select("doc_id", "text").collect().map(_.toSeq).toSet
    assert(back.select("doc_id", "text").collect().map(_.toSeq).toSet == orig)
    // conveyor balance: every shard's token sum ≤ budget + its max doc;
    // every non-final shard exceeds budget − the corpus's max doc (the
    // exclusive-cumsum band bound — no arbitrarily sparse shards)
    val globalMax = back.agg(max("n_tokens")).head.getLong(0)
    val shards = back.groupBy("source", "pack_id")
      .agg(sum("n_tokens").as("t"), max("n_tokens").as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lastPack = shards.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    shards.foreach { case (src, p, t, m) =>
      assert(t < budget + m, s"$src/$p overruns: $t")
      if (p != lastPack(src)) assert(t > budget - globalMax, s"$src/$p is sparse: $t")
    }
    // planning-time pruning: one shard's read plans only that partition
    val one = spark.read.parquet(out)
      .filter($"source" === shards.head._1 && $"pack_id" === 0L)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(one.count() > 0)
    // determinism: a rewrite produces the identical shard assignment
    val out2 = tempDir("shards_").toString
    TextAnalysis.writeTokenShards(docs.filter($"text".isNotNull), out2, budget)
    val a = spark.read.parquet(out).select("doc_id", "source", "pack_id")
      .collect().map(_.toSeq).toSet
    val b = spark.read.parquet(out2).select("doc_id", "source", "pack_id")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("bigram LM: hand-computed backoff bits, vocab derivation, totality") {
    // uni costs: the=1, cat=2, sat=3; bigram: "the cat"=1; oov=7, backoff=3
    val st = TextAnalysis.bigramLmState(spark,
      Seq("the" -> 1L, "cat" -> 2L, "sat" -> 3L), Seq("the cat" -> 1L),
      oovCost = 7L, backoffCost = 3L)
    val fixture = Seq[(java.lang.Long, String)](
      // the(1) + "the cat" bigram(1) + backoff+sat(3+3) + backoff+oov(3+7)
      (1L, "the cat sat down"),
      (2L, "the"),            // single token: unigram only
      (3L, "zz the cat"),     // oov(7) + backoff+the(3+1) + bigram(1)
      (4L, null)).toDF("doc_id", "text")
    val got = fixture.select(col("doc_id"), TextAnalysis.lmSurprisalBigram(
        split(trim(col("text")), "\\s+"), st).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got(1L) == 1L + 1L + 6L + 10L, got(1L))
    assert(got(2L) == 1L)
    assert(got(3L) == 7L + 4L + 1L, got(3L))
    assert(got(4L) == -1L, "NULL in, NULL out")
    // vocab derivation: bigram ranks by (count desc, pair asc), bit costs
    val corpus = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val bi = TextAnalysis.zipfBigramVocab(corpus, topB = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // pairs: "a b"×3, "b a"×1, "b c"×1, "b x"×1 → ranks 1..4, ties lexical
    assert(bi.toSeq == Seq(("a b", 1L, 0L), ("b a", 2L, 1L),
      ("b c", 3L, 1L), ("b x", 4L, 2L)), bi.toSeq)
  }

  test("importanceState: independent count/weight replay, target bias sign") {
    val b = 128
    def bucket(f: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (h % b).toInt
    }
    def feats(text: String): Seq[String] = {
      val ws = text.trim.split("\\s+", -1).toSeq
      ws ++ ws.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1))
    }
    def ilog2(n: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(n)
    val targetTexts = Seq("alpha beta alpha", "beta alpha")
    val rawTexts = targetTexts ++ Seq("gamma delta", "delta gamma delta", "epsilon")
    val target = targetTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val raw = rawTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // independent replay: bucket counts from raw MessageDigest arithmetic
    val tcnt = targetTexts.flatMap(feats).groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val rcnt = rawTexts.flatMap(feats).groupBy(bucket).view.mapValues(_.size.toLong).toMap
    def expected(text: String): Long =
      feats(text).map { f =>
        val bk = bucket(f)
        ilog2(tcnt.getOrElse(bk, 0L) + 1L) - ilog2(rcnt.getOrElse(bk, 0L) + 1L)
      }.sum
    val st = TextAnalysis.importanceState(target, raw, b)
    val got = raw.select(col("doc_id"), TextAnalysis.classifierScore(
        split(trim(col("text")), "\\s+"), st).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rawTexts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == expected(t), s"doc $i '$t'")
    }
    // sign sanity: target-domain docs score at least as high as any
    // out-of-domain doc (features seen in target get the bit-ratio boost)
    val inDomain = (0 to 1).map(i => got(i.toLong)).min
    val outDomain = (2 to 4).map(i => got(i.toLong)).max
    assert(inDomain > outDomain, s"in=$inDomain out=$outDomain")
  }

  test("importanceStateFused: single-scan weights == two-scan weights") {
    val b = 128
    val rawTexts = Seq("alpha beta alpha", "beta alpha", "gamma delta",
      "delta gamma delta", "epsilon", "alpha gamma", "zeta eta theta")
    val raw = rawTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val isTarget = pmod(col("doc_id"), lit(3)) === 0
    val twoScan = TextAnalysis.importanceState(raw.filter(isTarget), raw, b)
    val fused = TextAnalysis.importanceStateFused(raw, isTarget, b)
    assert(twoScan.weights.value.toSeq == fused.weights.value.toSeq)
    assert(twoScan.bias == fused.bias)
    // and the scores they induce agree doc-for-doc
    def scores(st: org.apache.spark.sql.graft.HashedLinearState) =
      raw.select(col("doc_id"), TextAnalysis.classifierScore(
          split(trim(col("text")), "\\s+"), st).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores(twoScan) == scores(fused))
  }

  test("importanceStateFused counting is one scan (single aggregate pair)") {
    // the fused plan must read the corpus once: exactly one pair of
    // partial+final HashAggregate over one Scan/LocalTableScan — assert
    // no union of two counting subplans
    val b = 64
    val raw = Seq((0L, "a b"), (1L, "b c")).toDF("doc_id", "text")
    val counts = raw
      .select((pmod(col("doc_id"), lit(2)) === 0).as("__t"),
        explode(split(trim(col("text")), "\\s+")).as("__f"))
      .groupBy(col("__f"))
      .agg(count(when(col("__t"), 1)).as("nt"), count(lit(1)).as("nr"))
    val plan = counts.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), plan)
  }

  test("classifierScore stage is scan-local (no exchange)") {
    val st = TextAnalysis.classifierState(spark,
      Array.tabulate(4096)(i => (i % 21).toLong - 10L), bias = 5L)
    val plan = docs.select(col("doc_id"), TextAnalysis.classifierScore(
        split(trim(col("text")), "\\s+"), st))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1) Project"), plan) // codegen'd projection
  }

  test("zipfVocab is partition-invariant and vocab derivation bounded") {
    val base = TextAnalysis.zipfVocab(docs, "text", topV = 100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val again = TextAnalysis.zipfVocab(docs.repartition(17), "text", topV = 100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again == base)
    val plan = TextAnalysis.zipfVocab(docs, "text", topV = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("vocabStats: counts match a hand-built corpus; top-k order is total") {
    val tiny = Seq(
      (1L, "alpha beta beta Gamma-gamma"),
      (2L, "beta delta ALPHA zz"),
      (3L, "beta")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabStats(tiny, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // beta: 3 docs 4 occurrences; alpha: 2/2; gamma: 1/2; delta: 1/1
    assert(got.toSeq == Seq(
      ("beta", 3L, 4L), ("alpha", 2L, 2L), ("gamma", 1L, 2L), ("delta", 1L, 1L)))
  }

  test("vocabStats plans a TakeOrderedAndProject, not a global sort") {
    val plan = TextAnalysis.vocabStats(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("contaminationProbes: finds planted probes, drops misses, broadcasts") {
    val tiny = Seq(
      (1L, "the quick brown fox"),
      (2L, "quick brown shoes"),
      (3L, "nothing here")).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationProbes(tiny,
      Seq("quick brown", "fox", "unicorn dust"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("quick brown", 2L, 1L), ("fox", 1L, 1L)))
    val plan = TextAnalysis.contaminationProbes(docs, Seq("fast merge batch"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
  }

  test("group-keyed deterministicSplit: no duplicate text (or cluster member) straddles splits") {
    // 40 distinct texts, each duplicated under 3 different doc_ids — the
    // exact-dup leakage fixture. Splitting by md5(text) must co-locate
    // every duplicate family; splitting by doc_id (the naive form) must
    // NOT (that's the leak this guards against).
    val rows = (0 until 40).flatMap(t =>
      (0 until 3).map(r => (t * 100L + r, s"text body number $t")))
      .toDF("doc_id", "text")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val byContent = Sampling.deterministicSplit(
      rows.withColumn("ckey", md5(col("text"))), "ckey", w)
      .select(col("text"), col("split")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // every text maps to exactly one split
    assert(byContent.groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1))
    assert(byContent.map(_._2).distinct.size >= 2, "fixture must use >1 split")
    // the naive id-keyed split DOES leak on this fixture — the guard is
    // load-bearing, not vacuous
    val byId = Sampling.deterministicSplit(rows, "doc_id", w)
      .select(col("text"), col("split")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(byId.groupBy(_._1).exists(_._2.map(_._2).distinct.size > 1))
    // composes with clusters(): split by the cluster representative —
    // every member of a connected dup-cluster co-travels
    val pairs = Seq((100L, 101L), (101L, 102L), (200L, 201L)).toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs)
    val split = Sampling.deterministicSplit(labels, "cluster", w)
    val perCluster = split.collect()
      .map(r => (r.getLong(1), r.getString(2))).groupBy(_._1)
    assert(perCluster.forall(_._2.map(_._2).distinct.size == 1))
  }

  // ---- collocations ----

  /** Serial replica of the staged-division bigram lift. */
  private def bruteColloc(texts: Seq[String], minCount: Int, topK: Int)
      : Seq[(String, String, Long, Long)] = {
    val tokd = texts.map(_.trim.split("\\s+").toSeq)
    val n = tokd.map(_.size).sum.toLong
    val uc = tokd.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val bc = tokd.filter(_.size >= 2)
      .flatMap(t => t.zip(t.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= minCount)
    bc.map { case ((w1, w2), cxy) =>
      (w1, w2, cxy, ((1000L * n) / uc(w1)) * cxy / uc(w2))
    }.toSeq
      .sortBy { case (w1, w2, cxy, l) => (-l, -cxy, w1, w2) }
      .take(topK)
  }

  test("collocations == serial replica; planted phrase dominates") {
    // "new york" always adjacent; "the" is everywhere, so ("the","the")
    // has high count but chance-level lift
    val texts = (0 until 60).map(i =>
      s"the city of new york has the ${i % 7} the avenue") ++
      (0 until 20).map(i => s"the the the filler ${i % 3} the")
    val got = TextAnalysis.collocations(texts.toDF("text"),
      minCount = 5, topK = 1000)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    val brute = bruteColloc(texts, 5, 1000)
    assert(got == brute)
    // the planted always-adjacent phrase scores an order of magnitude
    // above the chance-level stopword pair (rarer always-adjacent pairs
    // like filler-digit legitimately score even higher — lift rewards
    // rarity, which is the point)
    val newYork = got.find(p => p._1 == "new" && p._2 == "york")
    val theThe = got.find(p => p._1 == "the" && p._2 == "the")
    assert(newYork.isDefined && theThe.isDefined,
      s"expected both pairs in top-20: ${got.take(20)}")
    assert(newYork.get._4 > 10 * theThe.get._4,
      s"planted lift ${newYork.get._4} vs stopword ${theThe.get._4}")
  }

  test("collocations: determinism, null/empty handling, validation") {
    val texts = Seq[(java.lang.Long, String)]((1L, "a b a b a b a b a b"),
      (2L, null), (3L, ""), (4L, "a b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.collocations(texts, "text", minCount = 2, topK = 10)
      .collect().map(_.toSeq)
    val rep = TextAnalysis.collocations(texts.repartition(7), "text",
      minCount = 2, topK = 10).collect().map(_.toSeq)
    assert(got.toSeq == rep.toSeq) // fully deterministic ORDER, not just set
    assert(got.exists(r => r(0) == "a" && r(1) == "b"))
    intercept[IllegalArgumentException](
      TextAnalysis.collocations(texts, "text", minCount = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.collocations(texts, "text", topK = 0))
  }
}
