package graft.api

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FuzzyJoinSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = d(0); d(0) = j
      for (i <- 1 to a.length) {
        val t = d(i)
        d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = t
      }
    }
    d(a.length)
  }

  test("editDistanceSelfJoin == brute force on random word-soup strings") {
    // deterministic corpus with planted near-misses: typo'd variants of a
    // base vocabulary at distances 1..3, plus unrelated strings
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefg"
    def word(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val bases = (0 until 30).map(_ => word(5 + rnd.nextInt(10)))
    val variants = bases.flatMap { b =>
      val edit = rnd.nextInt(3) match {
        case 0 => b.updated(rnd.nextInt(b.length), alphabet(rnd.nextInt(7))) // sub
        case 1 => b.take(rnd.nextInt(b.length)) + alphabet(rnd.nextInt(7)) + b.drop(rnd.nextInt(b.length)) // messy insert
        case 2 => b.patch(rnd.nextInt(b.length), Nil, 1) // delete
      }
      Seq(b, edit.toString)
    }
    val rows = variants.distinct.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "text")
    for (tau <- 1 to 3) {
      val got = FuzzyJoin.editDistanceSelfJoin(df, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
        d = lev(ta, tb) if d <= tau
      } yield (ia, ib, d.toLong)).toSet
      assert(got == want, s"tau=$tau")
      assert(want.nonEmpty, s"fixture must contain pairs at tau=$tau")
    }
  }

  test("editDistanceSelfJoin: non-ASCII (BMP) strings measured in code points") {
    val rows = Seq((1L, "café"), (2L, "cafe"), (3L, "cafés"),
      (4L, "über"), (5L, "uber"), (6L, "unrelated"))
    val got = FuzzyJoin.editDistanceSelfJoin(rows.toDF("id", "text"), tau = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      d = lev(ta, tb) if d <= 1
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want)
    assert(want.contains((1L, 2L, 1L)) && want.contains((1L, 3L, 1L)) &&
      want.contains((4L, 5L, 1L)))
  }

  test("editDistanceAgainstIndex == brute cross-set; streaming probe matches") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abcde"
    def word(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val bases = (0 until 25).map(_ => word(6 + rnd.nextInt(6)))
    val rows = bases.flatMap { b =>
      Seq(b, b.updated(rnd.nextInt(b.length), alphabet(rnd.nextInt(5))).toString)
    }.distinct.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "text")
    val ref = df.filter($"id" % 2 === 0)
    val probe = df.filter($"id" % 2 === 1)
    val idxDir = tempDir("graft-edit-idx").toString
    FuzzyJoin.writeEditIndex(ref, idxDir, tau = 2)
    val got = FuzzyJoin.editDistanceAgainstIndex(spark, idxDir, probe, tau = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (ia, ta) <- rows if ia % 2 == 0
      (ib, tb) <- rows if ib % 2 == 1
      dd = lev(ta, tb) if dd <= 2
    } yield (ia, ib, dd.toLong)).toSet
    assert(got == want && want.nonEmpty)
    // streaming probe (stateless stream-static): per-signature duplicate
    // pairs collapse downstream to the same set
    val streamDir = tempDir("graft-edit-stream")
    probe.coalesce(1).write.mode("overwrite").parquet(streamDir.toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
    val q = FuzzyJoin.editDistanceAgainstIndex(spark, idxDir, stream, tau = 2,
        dedupCandidates = false)
      .writeStream.outputMode("append").format("memory")
      .queryName("editidx_out").start()
    val got2 =
      try {
        q.processAllAvailable()
        spark.table("editidx_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      } finally q.stop()
    assert(got2 == want)
    // probing with a different tau than the index was segmented for is a
    // loud failure, not silent missed pairs
    val ex = intercept[IllegalArgumentException] {
      FuzzyJoin.editDistanceAgainstIndex(spark, idxDir, probe, tau = 1)
    }
    assert(ex.getMessage.contains("segmented for tau=2"))
  }

  test("editDistanceJoin: two-table form, short strings, null/empty totality") {
    val left = Seq((1L, "abc"), (2L, "a"), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val right = Seq((10L, "abd"), (11L, "b"), (12L, ""), (13L, "xyzzy"))
      .toDF("id", "text")
    val got = FuzzyJoin.editDistanceJoin(left, right, tau = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over non-null rows
    val want = (for {
      (ia, ta) <- Seq((1L, "abc"), (2L, "a"), (3L, ""))
      (ib, tb) <- Seq((10L, "abd"), (11L, "b"), (12L, ""), (13L, "xyzzy"))
      d = lev(ta, tb) if d <= 1
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want)
    // ("", "") at distance 0 and one-char strings must be present
    assert(got.contains((3L, 12L, 0L)) && got.contains((2L, 11L, 1L)))
  }

  test("editDistanceJoin fails fast on a duplicated id instead of bogus pairs") {
    val left = Seq((1L, "hello"), (1L, "yellow"), (2L, "world"))
      .toDF("id", "text")
    val right = Seq((10L, "hallo")).toDF("id", "text")
    val e = intercept[Exception] {
      FuzzyJoin.editDistanceJoin(left, right, tau = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("duplicate l-side id")),
      s"expected named duplicate-id error, got: $e")
    // unique ids still work untouched
    val ok = FuzzyJoin.editDistanceJoin(
      Seq((1L, "hello")).toDF("id", "text"), right, tau = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ok.toSeq == Seq((1L, 10L, 1L)))
  }

  test("editDistanceSelfJoin: supplementary-plane chars (surrogate pairs)") {
    // 🎉/🚀/𝕏 are outside the BMP (2 UTF-16 units each). The engine's
    // contract is exactness wrt Spark's own code-point levenshtein — the
    // brute force here IS that function, so a blocking layer that
    // miscounted lengths in code units (or split a character) would show
    // as missing/extra pairs
    val rnd = new scala.util.Random(41)
    val alphabet = Seq("a", "b", "🎉", "🚀", "𝕏", "é")
    def word(n: Int) =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
    val rows = ((0 until 40).map(_ => word(3 + rnd.nextInt(6))) ++
      Seq("🎉🎉🎉", "🎉🎉", "🎉a🎉", "a🎉🎉", "𝕏", "", "🚀"))
      .distinct.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "text").cache()
    val bruteDf = df.toDF("ia", "ta").crossJoin(df.toDF("ib", "tb"))
      .filter($"ia" < $"ib")
      .select($"ia", $"ib", levenshtein($"ta", $"tb").cast("long").as("d"))
    for (tau <- 1 to 2) {
      val want = bruteDf.filter($"d" <= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = FuzzyJoin.editDistanceSelfJoin(df, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"tau=$tau diff=${(got diff want).take(3)} " +
        s"missing=${(want diff got).take(3)}")
      assert(want.nonEmpty, s"fixture must pair at tau=$tau")
    }
  }
}
