package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * KMV distinct sketch: exact replica differential (the sketch is
 * deterministic — md5 hashes, no seed), exact-path equivalence below k,
 * duplicate-invariance, and an accuracy sanity band on the estimation
 * path.
 */
class SketchesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def md5h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }

  private def bruteKmv(rows: Seq[(String, String)], k: Int)
      : Map[String, (Long, Long)] =
    rows.groupBy(_._1).map { case (g, vs) =>
      // hash 0 → 1, mirroring the operator's ANSI division guard
      val hs = vs.map(v => math.max(1L, md5h32(v._2))).distinct.sorted
      val kept = hs.take(k)
      val est =
        if (kept.size < k) kept.size.toLong
        else (k - 1).toLong * 4294967296L / kept.last
      g -> (kept.size.toLong, est)
    }

  test("distinctKmv == exact Scala replica across seeds") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 11)
      val rows = (0 until 3000).map(_ =>
        (s"g${rnd.nextInt(4)}", s"v${rnd.nextInt(500)}"))
      val got = Sketches.distinctKmv(rows.toDF("g", "v"), "g", "v", k = 16)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(got == bruteKmv(rows, 16), s"seed $seed")
    }
  }

  test("below k the estimate is the exact distinct count") {
    val rows = (0 until 200).map(i => ("only", s"v${i % 9}"))
    val out = Sketches.distinctKmv(rows.toDF("g", "v"), "g", "v", k = 64)
      .head()
    assert(out.getLong(1) == 9 && out.getLong(2) == 9)
  }

  test("duplicates never change the sketch") {
    val base = (0 until 400).map(i => ("g", s"v$i"))
    val dup = base ++ base ++ base
    val a = Sketches.distinctKmv(base.toDF("g", "v"), "g", "v", 32)
      .collect().map(_.toSeq).toSet
    val b = Sketches.distinctKmv(dup.toDF("g", "v"), "g", "v", 32)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("estimation-path accuracy lands inside a few standard errors") {
    // true distinct 2000 per group, k=64 → se ≈ 1/sqrt(62) ≈ 12.7%;
    // deterministic hashes make this a fixed, replayable assertion
    val rows = (0 until 2000).flatMap(i =>
      Seq(("a", s"left-$i"), ("b", s"right-$i")))
    Sketches.distinctKmv(rows.toDF("g", "v"), "g", "v", 64)
      .collect().foreach { r =>
        val est = r.getLong(2)
        assert(r.getLong(1) == 64)
        assert(est > 1200 && est < 3000,
          s"group ${r.getString(0)} est $est too far from 2000")
      }
  }

  test("distinctKmv is partition-invariant and validates k") {
    val rows = (0 until 1000).map(i => (s"g${i % 3}", s"v${i % 333}"))
    val df = rows.toDF("g", "v")
    val a = Sketches.distinctKmv(df, "g", "v", 16).collect().map(_.toSeq).toSet
    val b = Sketches.distinctKmv(df.repartition(17), "g", "v", 16)
      .collect().map(_.toSeq).toSet
    assert(a == b)
    intercept[IllegalArgumentException](Sketches.distinctKmv(df, "g", "v", 1))
  }

  test("null values are ignored, not hashed") {
    val df = Seq(("g", Option("x")), ("g", None), ("g", Option("y")))
      .toDF("g", "v")
    val out = Sketches.distinctKmv(df, "g", "v", 8).head()
    assert(out.getLong(1) == 2 && out.getLong(2) == 2)
  }

  test("distinct-capped bottom-k buffer == distinct+sort+take under " +
      "random insert/merge/serde splits") {
    // the r14 heap that absorbed the KMV family's pre-distinct exchange:
    // duplicates are no-ops, a full heap only admits below-max values,
    // partials merge exactly, and serde round-trips the state
    import org.apache.spark.sql.graft.DistinctBottomKBuffer
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 7)
      val k = 1 + rnd.nextInt(40)
      val vals = Array.fill(3000)(rnd.nextInt(400).toLong)
      val expect = vals.distinct.sorted.take(k).toSeq
      // single buffer
      val one = new DistinctBottomKBuffer(k)
      vals.foreach(one.insert)
      assert(one.sortedValues.toSeq == expect, s"seed $seed single")
      // split into partials, serde each, merge
      val parts = vals.grouped(700).map { chunk =>
        val b = new DistinctBottomKBuffer(k)
        chunk.foreach(b.insert)
        DistinctBottomKBuffer.fromBytes(b.toBytes)
      }.toSeq
      val merged = new DistinctBottomKBuffer(k)
      parts.foreach(_.foreach(merged.insert))
      assert(merged.sortedValues.toSeq == expect, s"seed $seed merged")
    }
  }

  // ---- HLL ----

  /** Exact Scala replica of the integer HLL: top-b-bit register, ρ from
    * the remaining 32−b bits, scaled harmonic mean. */
  private def bruteHll(rows: Seq[(String, String)], b: Int)
      : Map[String, (Long, Long)] = {
    val m = 1L << b
    val wBits = 32 - b
    val wMod = 1L << wBits
    val alpha = b match { case 4 => 673L; case 5 => 697L; case 6 => 709L
      case _ => math.round(721.3 / (1 + 1.079 / m)) }
    rows.groupBy(_._1).map { case (g, vs) =>
      val regs = scala.collection.mutable.LongMap.empty[Long]
      vs.foreach { v =>
        val h = math.max(1L, md5h32(v._2))
        val j = h / wMod
        val w = h % wMod
        val rho = if (w == 0) wBits + 1L
          else wBits - (64 - java.lang.Long.numberOfLeadingZeros(w)) + 1L
        regs(j) = math.max(regs.getOrElse(j, 0L), rho)
      }
      val sp = regs.values.map(r => 1L << (32 - r).toInt).sum
      val s = sp + (m - regs.size) * 4294967296L
      g -> (regs.size.toLong, alpha * m * m * 4294967296L / (1000L * s))
    }
  }

  test("distinctHll == exact Scala replica across seeds and b") {
    for (seed <- 1 to 3; b <- Seq(4, 6, 8)) {
      val rnd = new scala.util.Random(seed * 29)
      val rows = (0 until 3000).map(_ =>
        (s"g${rnd.nextInt(4)}", s"v${rnd.nextInt(800)}"))
      val got = Sketches.distinctHll(rows.toDF("g", "v"), "g", "v", b)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(got == bruteHll(rows, b), s"seed $seed b $b")
    }
  }

  test("distinctHll: duplicates never change the registers") {
    val base = (0 until 500).map(i => ("g", s"v$i"))
    val a = Sketches.distinctHll(base.toDF("g", "v"), "g", "v")
      .collect().map(_.toSeq).toSet
    val bb = Sketches.distinctHll((base ++ base ++ base).toDF("g", "v"),
      "g", "v").collect().map(_.toSeq).toSet
    assert(a == bb)
  }

  test("distinctHll accuracy brackets approx_count_distinct against the truth") {
    // true distinct 2000/group; se ≈ 1.04/√64 ≈ 13% — assert a 3-se band
    // for BOTH our replayable sketch and Spark's HLL++, the operator this
    // twin exists to mirror
    val rows = (0 until 2000).flatMap(i =>
      Seq(("a", s"left-$i"), ("b", s"right-$i")))
    val df = rows.toDF("g", "v")
    val hll = Sketches.distinctHll(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val acd = df.groupBy(col("g"))
      .agg(approx_count_distinct(col("v")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("a", "b").foreach { g =>
      assert(hll(g) > 1200 && hll(g) < 2800, s"hll($g) = ${hll(g)}")
      assert(acd(g) > 1200 && acd(g) < 2800, s"acd($g) = ${acd(g)}")
    }
  }

  test("hllRegisters shard tables merge EXACTLY: union-of-sketches == sketch-of-union") {
    // the mergeable-sketch contract, asserted as exact equality (register
    // max commutes): sketch shards A and B separately, concatenate the
    // register tables, estimate — must equal distinctHll over A ∪ B
    val rnd = new scala.util.Random(17)
    val a = (0 until 1200).map(_ => (s"g${rnd.nextInt(3)}", s"v${rnd.nextInt(700)}"))
    val b = (0 until 1200).map(_ => (s"g${rnd.nextInt(3)}", s"x${rnd.nextInt(700)}"))
    val merged = Sketches.hllEstimate(
      Sketches.hllRegisters(a.toDF("g", "v"), "g", "v")
        .unionByName(Sketches.hllRegisters(b.toDF("g", "v"), "g", "v")), "g")
      .collect().map(_.toSeq).toSet
    val direct = Sketches.distinctHll((a ++ b).toDF("g", "v"), "g", "v")
      .collect().map(_.toSeq).toSet
    assert(merged == direct)
  }

  // ---- bottom-k quantile sketch ----

  /** Exact Scala replica: k (hash, value)-lexicographic minima per group,
    * sorted sample, lower-quantile index. */
  private def bruteQuantiles(rows: Seq[(String, Long, Long)], k: Int,
                             qs: Seq[Int]): Map[String, (Long, Seq[Long])] =
    rows.groupBy(_._1).map { case (g, vs) =>
      val sample = vs.map(v => (math.max(1L, md5h32(v._2.toString)), v._3))
        .sorted.take(k).map(_._2).sorted
      val n = sample.size
      g -> (n.toLong, qs.map(p => sample((p * (n - 1) / 1000).toInt)))
    }

  test("quantileSketch == exact Scala replica across seeds") {
    val qs = Seq(100, 500, 900)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 37)
      val rows = (0 until 3000).map(i =>
        (s"g${rnd.nextInt(3)}", i.toLong, rnd.nextInt(100000).toLong))
      val got = Sketches.quantileSketch(rows.toDF("g", "id", "v"),
          "g", "id", "v", k = 32, qsPermille = qs)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), Seq(r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == bruteQuantiles(rows, 32, qs), s"seed $seed")
    }
  }

  test("quantileSample shards merge EXACTLY: min-k of unions == global min-k") {
    val rnd = new scala.util.Random(21)
    val a = (0 until 1500).map(i => (s"g${i % 2}", i.toLong, rnd.nextInt(9999).toLong))
    val b = (1500 until 3000).map(i => (s"g${i % 2}", i.toLong, rnd.nextInt(9999).toLong))
    // the merge: the 48 smallest (hv, v) rows per group of the union
    val merged = Sketches.quantileSample(a.toDF("g", "id", "v"), "g", "id", "v", 48)
      .unionByName(Sketches.quantileSample(b.toDF("g", "id", "v"), "g", "id", "v", 48))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values.flatMap(_.sortBy(t => (t._2, t._3)).take(48))
      .map(t => Seq(t._1, t._2, t._3)).toSet
    val direct = Sketches.quantileSample((a ++ b).toDF("g", "id", "v"),
      "g", "id", "v", 48).collect().map(_.toSeq).toSet
    assert(merged == direct && merged.nonEmpty)
  }

  test("quantileSketch accuracy: sampled median lands near the true median") {
    // uniform 0..99999, true median 50000, k=256 → se of the median rank
    // ≈ 0.5/√256 ≈ 3.1% of the range; assert a generous 5-se band
    val rows = (0 until 20000).map(i => ("g", i.toLong, ((i * 7919) % 100000).toLong))
    val q500 = Sketches.quantileSketch(rows.toDF("g", "id", "v"),
      "g", "id", "v", k = 256, qsPermille = Seq(500)).head().getLong(2)
    assert(q500 > 35000 && q500 < 65000, s"median estimate $q500")
  }

  test("quantileSketch: exact-regime (n <= k) quantiles are the true quantiles") {
    val vals = Seq(10L, 20L, 30L, 40L, 50L)
    val rows = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
    val r = Sketches.quantileSketch(rows.toDF("g", "id", "v"),
      "g", "id", "v", k = 64, qsPermille = Seq(0, 500, 1000)).head()
    assert(r.getLong(1) == 5L)
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((10L, 30L, 50L)))
  }

  test("distinctHll is partition-invariant, validates b, ignores nulls") {
    val rows = (0 until 1000).map(i => (s"g${i % 3}", s"v${i % 400}"))
    val df = rows.toDF("g", "v")
    val a = Sketches.distinctHll(df, "g", "v").collect().map(_.toSeq).toSet
    val b = Sketches.distinctHll(df.repartition(17), "g", "v")
      .collect().map(_.toSeq).toSet
    assert(a == b)
    intercept[IllegalArgumentException](Sketches.distinctHll(df, "g", "v", 3))
    intercept[IllegalArgumentException](Sketches.distinctHll(df, "g", "v", 11))
    val withNull = Seq(("g", Option("x")), ("g", None)).toDF("g", "v")
    assert(Sketches.distinctHll(withNull, "g", "v").head().getLong(1) == 1L)
  }

  // ---- KMV sample algebra ----

  test("kmvSample shards merge EXACTLY: estimate-of-union == whole-data sketch") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 3000).map(_ =>
      (s"g${rnd.nextInt(3)}", s"v${rnd.nextInt(700)}"))
    val (s1, s2) = rows.splitAt(1100)
    val merged = Sketches.kmvEstimate(
      Sketches.kmvSample(s1.toDF("g", "v"), "g", "v", 32)
        .union(Sketches.kmvSample(s2.toDF("g", "v"), "g", "v", 32)),
      "g", 32).collect().map(_.toSeq).toSet
    val whole = Sketches.distinctKmv(rows.toDF("g", "v"), "g", "v", 32)
      .collect().map(_.toSeq).toSet
    assert(merged == whole)
  }

  private def bruteSetEst(a: Seq[(String, String)], b: Seq[(String, String)],
                          k: Int): Map[String, Seq[Long]] = {
    def sample(rows: Seq[(String, String)]): Map[String, Seq[Long]] =
      rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(v => math.max(1L, md5h32(v._2))).distinct.sorted.take(k)
      }
    def est(s: Seq[Long]): Long =
      if (s.size < k) s.size.toLong else (k - 1).toLong * 4294967296L / s.last
    val sa = sample(a); val sb = sample(b)
    (sa.keySet intersect sb.keySet).map { g =>
      val x = (sa(g) ++ sb(g)).distinct.sorted.take(k)
      val nboth = x.count(h => sa(g).contains(h) && sb(g).contains(h))
      val eu = est(x)
      val j = 1000L * nboth / x.size
      g -> Seq(est(sa(g)), est(sb(g)), eu, j, j * eu / 1000L)
    }.toMap
  }

  test("kmvSetEstimates == integer replica in exact AND estimation regimes") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 7)
      // per-group value domains small enough that SOME groups stay under
      // k (exact regime) while others overflow it (estimation regime)
      val a = (0 until 2000).map(_ =>
        (s"g${rnd.nextInt(4)}", s"v${rnd.nextInt(40 + rnd.nextInt(200))}"))
      val b = (0 until 2000).map(_ =>
        (s"g${rnd.nextInt(4)}", s"v${20 + rnd.nextInt(40 + rnd.nextInt(200))}"))
      val got = Sketches.kmvSetEstimates(
        Sketches.kmvSample(a.toDF("g", "v"), "g", "v", 64),
        Sketches.kmvSample(b.toDF("g", "v"), "g", "v", 64), "g", 64)
        .collect()
        .map(r => r.getString(0) -> (1 to 5).map(r.getLong).toSeq).toMap
      assert(got == bruteSetEst(a, b, 64), s"seed $seed")
    }
  }

  test("kmvSetEstimates exact regime reports the true set algebra") {
    // |A|=30, |B|=30, overlap 10, union 50 < k=64 → everything exact
    val a = (0 until 30).map(i => ("g", s"v$i"))
    val b = (20 until 50).map(i => ("g", s"v$i"))
    val r = Sketches.kmvSetEstimates(
      Sketches.kmvSample(a.toDF("g", "v"), "g", "v", 64),
      Sketches.kmvSample(b.toDF("g", "v"), "g", "v", 64), "g", 64).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((30L, 30L, 50L)))
    assert(r.getLong(4) == 200L) // 1000·10/50
    assert(r.getLong(5) == 10L)  // (200·50)/1000
  }

  test("kmvSetEstimates estimation-path accuracy lands inside a sane band") {
    // true union 1500, true Jaccard 500/1500 = 333‰
    val a = (0 until 1000).map(i => ("g", s"val$i"))
    val b = (500 until 1500).map(i => ("g", s"val$i"))
    val r = Sketches.kmvSetEstimates(
      Sketches.kmvSample(a.toDF("g", "v"), "g", "v", 64),
      Sketches.kmvSample(b.toDF("g", "v"), "g", "v", 64), "g", 64).head()
    val estU = r.getLong(3); val j = r.getLong(4); val estI = r.getLong(5)
    assert(math.abs(estU - 1500L) < 600, s"est_union $estU")
    assert(math.abs(j - 333L) < 200, s"jaccard $j")
    assert(math.abs(estI - 500L) < 350, s"est_intersect $estI")
  }

  // ---- Count-Min ----

  private def bruteCms(rows: Seq[(String, String)], items: Seq[String],
                       d: Int, w: Int): Map[(String, String), Long] = {
    val counters = scala.collection.mutable.Map
      .empty[(String, Int, Long), Long].withDefaultValue(0L)
    rows.foreach { case (g, v) =>
      (0 until d).foreach { r =>
        counters((g, r, md5h32(s"$r:$v") % w)) += 1
      }
    }
    val groups = rows.map(_._1).distinct
    (for (g <- groups; it <- items.distinct) yield
      (g, it) -> (0 until d).map(r =>
        counters((g, r, md5h32(s"$r:$it") % w))).min).toMap
  }

  test("cmsLookup == integer replica; estimates never undershoot the truth") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 19)
      // small w so collisions fire; absent items (v9xx) estimate too
      val rows = (0 until 4000).map(_ =>
        (s"g${rnd.nextInt(3)}", s"v${rnd.nextInt(60)}"))
      val items = (0 until 40).map(i => s"v${i * 3}") ++ Seq("v900", "v901")
      val got = Sketches.cmsLookup(
        Sketches.cmsSketch(rows.toDF("g", "v"), "g", "v", d = 3, w = 16),
        items.toDF("v"), "g", "v", d = 3, w = 16)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == bruteCms(rows, items, 3, 16), s"seed $seed")
      val truth = rows.groupBy(identity).view.mapValues(_.size.toLong)
      got.foreach { case ((g, v), est) =>
        assert(est >= truth.getOrElse((g, v), 0L), s"undershoot at ($g,$v)")
      }
    }
  }

  test("cmsSketch shards merge EXACTLY; wide sketch on small domains is exact") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 3000).map(_ =>
      (s"g${rnd.nextInt(2)}", s"v${rnd.nextInt(50)}"))
    val (s1, s2) = rows.splitAt(1300)
    // the merge: counters add cell-wise
    val merged = Sketches.cmsSketch(s1.toDF("g", "v"), "g", "v")
      .union(Sketches.cmsSketch(s2.toDF("g", "v"), "g", "v"))
      .groupBy("g", "r", "c").agg(sum("cnt").as("cnt"))
      .collect().map(_.toSeq).toSet
    val whole = Sketches.cmsSketch(rows.toDF("g", "v"), "g", "v")
      .collect().map(_.toSeq).toSet
    assert(merged == whole)
    // d=8 × w=2^16 over 12 distinct values: some row is collision-free
    // for every item, so every present-item estimate is EXACT
    val small = (0 until 600).map(i => ("g", s"u${i % 12}"))
    val est = Sketches.cmsLookup(
      Sketches.cmsSketch(small.toDF("g", "v"), "g", "v", d = 8, w = 1 << 16),
      (0 until 12).map(i => s"u$i").toDF("v"), "g", "v", d = 8, w = 1 << 16)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert((0 until 12).forall(i => est(s"u$i") == 50L))
  }

  test("cms/kmv param validation and partition invariance") {
    val df = (0 until 500).map(i => ("g", s"v${i % 80}")).toDF("g", "v")
    intercept[IllegalArgumentException](Sketches.cmsSketch(df, "g", "v", d = 0))
    intercept[IllegalArgumentException](Sketches.cmsSketch(df, "g", "v", w = 1))
    intercept[IllegalArgumentException](Sketches.kmvSample(df, "g", "v", 1))
    val a = Sketches.kmvSetEstimates(
      Sketches.kmvSample(df, "g", "v", 16),
      Sketches.kmvSample(df.repartition(13), "g", "v", 16), "g", 16).head()
    // identical inputs: jaccard 1000‰, intersection == union estimate
    assert(a.getLong(4) == 1000L && a.getLong(5) == a.getLong(3))
  }

  // ---- exact k-th selection ----

  test("kthValue == sorted-seq selection across seeds, duplicates, negatives") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 53)
      val xs = (0 until 2000).map(_ => rnd.nextInt(400).toLong - 200L)
      val df = xs.toDF("x")
      val sorted = xs.sorted
      // small buckets force several refinement rounds
      for (k <- Seq(1L, 7L, 1000L, 1999L, 2000L))
        assert(Sketches.kthValue(df, "x", k, buckets = 8) ==
          sorted((k - 1).toInt), s"seed $seed k $k")
    }
  }

  test("kthValue: wide ±2^60 range exercises integer-div bucketing exactly") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 300).map(_ => (rnd.nextLong() >> 3))
    val xs = base ++ base.take(50) // duplicates at huge magnitudes
    val df = xs.toDF("x")
    val sorted = xs.sorted
    for (k <- Seq(1L, 100L, 175L, 350L))
      assert(Sketches.kthValue(df, "x", k) == sorted((k - 1).toInt), s"k $k")
    // all-equal column: every rank returns the value
    val const = Seq.fill(100)(42L).toDF("x")
    assert(Sketches.kthValue(const, "x", 1L) == 42L)
    assert(Sketches.kthValue(const, "x", 100L) == 42L)
  }

  test("kthValue: null handling and validation") {
    val withNulls = Seq[java.lang.Long](5L, null, 1L, null, 3L).toDF("x")
    assert(Sketches.kthValue(withNulls, "x", 2L) == 3L) // nulls ignored
    val df = Seq(1L, 2L).toDF("x")
    intercept[IllegalArgumentException](Sketches.kthValue(df, "x", 0L))
    intercept[IllegalArgumentException](Sketches.kthValue(df, "x", 3L))
    intercept[IllegalArgumentException](Sketches.kthValue(df, "x", 1L, buckets = 1))
    intercept[IllegalArgumentException](
      Sketches.kthValue(Seq.empty[Long].toDF("x"), "x", 1L))
    // range overflow guard: [MinValue, MaxValue] refuses loudly
    intercept[IllegalArgumentException](Sketches.kthValue(
      Seq(Long.MinValue, Long.MaxValue).toDF("x"), "x", 1L))
  }

  test("kthValues: shared-scan multi-rank == per-rank kthValue across seeds") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 71)
      val xs = (0 until 1500).map(_ => rnd.nextInt(300).toLong - 150L)
      val df = xs.toDF("x")
      val sorted = xs.sorted
      // extremes, adjacent ranks, a duplicate rank — brackets diverge,
      // collide, and stay identical respectively; buckets=8 forces many
      // shared rounds
      val ks = Seq(1L, 375L, 376L, 750L, 750L, 1125L, 1500L)
      val got = Sketches.kthValues(df, "x", ks, buckets = 8)
      assert(got == ks.map(k => sorted((k - 1).toInt)), s"seed $seed")
      assert(got == ks.map(k => Sketches.kthValue(df, "x", k, buckets = 8)),
        s"seed $seed vs singleton path")
    }
    // validation
    val df = Seq(1L, 2L, 3L).toDF("x")
    intercept[IllegalArgumentException](Sketches.kthValues(df, "x", Seq.empty))
    intercept[IllegalArgumentException](Sketches.kthValues(df, "x", Seq(1L, 4L)))
  }

  test("weightedMedian: brute-force parity across seeds, groups, dup values") {
    def brute(rows: Seq[(String, Long, Long)]): Map[String, (Long, Long)] =
      rows.groupBy(_._1).map { case (g, rs) =>
        val byVal = rs.groupBy(_._2).map { case (v, xs) => (v, xs.map(_._3).sum) }
          .toSeq.sortBy(_._1)
        val tot = byVal.map(_._2).sum
        var cum = 0L
        val med = byVal.collectFirst {
          case (v, w) if { cum += w; cum * 2 >= tot } => v
        }.get
        g -> (med, tot)
      }
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new scala.util.Random(seed)
      // small value domain → heavy duplication, the tie-critical path
      val rows = (0 until 600).map(_ => (s"g${rnd.nextInt(4)}",
        rnd.nextInt(20).toLong, 1L + rnd.nextInt(9)))
      val got = Sketches.weightedMedian(rows.toDF("g", "v", "w").repartition(7),
        Seq("g"), "v", "w")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == brute(rows.map(t => (t._1, t._2, t._3.toLong))))
    }
    // LOWER median convention: weights (1,1) over values (10, 20) → 10
    val two = Seq(("a", 10L, 1L), ("a", 20L, 1L)).toDF("g", "v", "w")
    assert(Sketches.weightedMedian(two, Seq("g"), "v", "w")
      .head.getLong(1) == 10L)
    // one dominant weight pins the median regardless of value order
    val dom = Seq(("a", 5L, 100L), ("a", 1L, 1L), ("a", 9L, 1L))
      .toDF("g", "v", "w")
    assert(Sketches.weightedMedian(dom, Seq("g"), "v", "w")
      .head.getLong(1) == 5L)
  }

  test("weightedMedianRefine == window weightedMedian across seeds, ranges, buckets") {
    for (seed <- Seq(21, 22)) {
      val rnd = new scala.util.Random(seed)
      // wide value range (forces multiple refinement rounds at buckets=8)
      // + a tie-heavy narrow group
      val rows = (0 until 500).map { i =>
        if (i % 2 == 0) (s"g${rnd.nextInt(3)}",
          rnd.nextLong() % 1000000000L, 1L + rnd.nextInt(9))
        else ("tied", rnd.nextInt(5).toLong, 1L + rnd.nextInt(9))
      }
      val df = rows.toDF("g", "v", "w").repartition(7)
      val win = Sketches.weightedMedian(df, Seq("g"), "v", "w")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      for (b <- Seq(8, 1024)) {
        val ref = Sketches.weightedMedianRefine(df, "g", "v", "w", buckets = b)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(ref == win, s"seed $seed buckets $b diverged")
      }
    }
    // groups cap throws loudly
    val many = (0 until 30).map(i => (s"g$i", i.toLong, 1L)).toDF("g", "v", "w")
    intercept[IllegalArgumentException](
      Sketches.weightedMedianRefine(many, "g", "v", "w", maxGroups = 10))
  }
}
