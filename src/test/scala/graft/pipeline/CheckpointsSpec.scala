package graft.pipeline

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite

/**
 * The reliable-checkpoint rung of [[Checkpoints.materialize]]: each
 * iterative operator run with `checkpointDir = Some(dir)` must (a) write
 * real checkpoint blocks into `dir` — the fault-tolerance opt-in is
 * exercised, not just accepted — and (b) return results identical to the
 * default localCheckpoint path (the policy changes WHERE blocks live,
 * never what is computed).
 */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def withCheckpointDir[T](f: String => T): T =
    SparkTestBase.withTempDir("graft_ckpt_")(dir => f(dir.toString))

  private def dirHasFiles(dir: String): Boolean = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).filter(java.nio.file.Files.isRegularFile(_))
      .findFirst().isPresent
  }

  test("pagerankInt: reliable checkpoint path == localCheckpoint path, blocks on disk") {
    val rnd = new scala.util.Random(11)
    val edges = (0 until 100).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong)).toDF("src", "dst")
    val base = Graph.pagerankInt(edges, iters = 9).collect().map(_.toSeq).toSet
    withCheckpointDir { dir =>
      val got = Graph.pagerankInt(edges, iters = 9,
        checkpointDir = Some(dir)).collect().map(_.toSeq).toSet
      assert(got == base)
      assert(dirHasFiles(dir), "reliable checkpoint wrote no blocks")
    }
  }

  test("clusters (distributed path): reliable checkpoint == local, blocks on disk") {
    // driverMaxEdges = 0 forces the iterative distributed loop, whose
    // per-round checkpoints are the blocks at risk on executor loss
    val chain = (0L until 40L).map(i => (i, i + 1))
    val pairs = chain.toDF("id_a", "id_b")
    val base = Dedup.clusters(pairs, driverMaxEdges = 0L)
      .collect().map(_.toSeq).toSet
    withCheckpointDir { dir =>
      val got = Dedup.clusters(pairs, driverMaxEdges = 0L,
        checkpointDir = Some(dir)).collect().map(_.toSeq).toSet
      assert(got == base)
      assert(dirHasFiles(dir))
    }
  }

  test("materialize dir check is anchored: sibling dirs don't alias") {
    // regression for the substring `contains` check: with checkpoint dir
    // already set to <parent>/ab, a request for the SIBLING <parent>/a
    // was spuriously satisfied ("/…/ab/uuid".contains("/…/a")) and blocks
    // silently landed in the old location — the anchored comparison must
    // re-set and write into the requested dir
    SparkTestBase.withTempDir("graft_ckpt_sib_") { parent =>
      val ab = parent.resolve("ab").toString
      val a = parent.resolve("a").toString
      val df = spark.range(64).toDF("x")
      Checkpoints.materialize(df, Some(ab)).count()
      assert(dirHasFiles(ab), "first dir got no blocks")
      Checkpoints.materialize(df, Some(a)).count()
      assert(dirHasFiles(a),
        "blocks must land in the REQUESTED sibling dir, not the substring-matching old one")
    }
  }

  test("pairRules honors checkpointDir") {
    val rows = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (2L, 12L),
      (3L, 10L), (3L, 11L)).toDF("basket", "item")
    val base = MarketBasket.pairRules(rows, "basket", "item")
      .collect().map(_.toSeq).toSet
    withCheckpointDir { dir =>
      val got = MarketBasket.pairRules(rows, "basket", "item",
        checkpointDir = Some(dir)).collect().map(_.toSeq).toSet
      assert(got == base)
      assert(dirHasFiles(dir))
    }
  }
}
