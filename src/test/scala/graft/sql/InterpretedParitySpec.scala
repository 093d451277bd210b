package graft.sql

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.SqlFunctions
import org.scalatest.funsuite.AnyFunSuite

/**
 * Codegen/interpreted parity: every custom expression has two execution
 * paths — generated code (what whole-stage codegen runs, and what every
 * DuckDB oracle therefore validates) and eval (what runs under codegen
 * fallback or NO_CODEGEN). A divergence is silent wrongness on whichever
 * path the gates don't exercise, so run expression-heavy gate queries in
 * both modes and require identical row sets. The queries together must
 * reach every row of [[SqlFunctions]]: the rows' `StaticInvoke` calls are
 * collected from every plan the optimizer produces while they run.
 */
class InterpretedParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val sf = "/root/testdata/sf0.001"
  // scan-shaped gate queries that together cover the geohash, spatial,
  // minhash/simhash, lang-id, BPE, classifier, vector, gram, set-verify
  // and walk expressions
  private val queryNames = Seq("q_geohash_keys", "q_within_collection",
    "q_lang_id", "q_text_tokens_bpe", "q_quality_classifier",
    "q_embed_topk", "q_dedup_minhash", "q_dedup_simhash",
    "q_embed_topk_sq8", "q_embed_pq_topk", "q_chunk", "q_boilerplate",
    "q_dedup_spans", "q_text_tokens", "q_knn_join", "q_dedup_minhash_words",
    "q_dedup_cosine", "q_embed_topk_lsh", "q_node2vec", "q_dedup_substring",
    "q_contamination_ngram", "q_heavy_ngrams", "q_text_normalize",
    "q_decontaminate", "q_dedup_ngram", "q_dedup_containment")

  /** The rows no gate reaches at sf0.001, on small inputs derived from
    * `id` (a literal-only call would be constant-folded before it runs). */
  private def literalRows: DataFrame = spark.range(6).selectExpr(
    "geohash_decode(substr('dr5ru7k2', 1, 3 + cast(id AS int))) AS center",
    "sort_array(geohash_neighbors(substr('dr5ru7k2', 1, 3 + cast(id AS int)))) AS nbrs",
    "winnow_fingerprint(repeat('the quick brown fox ', 1 + cast(id AS int)), 5, 4) AS fp",
    "sorted_jaccard(sequence(0L, id), sequence(1L, id + 2)) AS j",
    "sorted_jaccard_at_least(sequence(0L, id), sequence(1L, id + 2), 0.5D) AS j5",
    "sortable_bits_to_double(double_sortable_bits(cast(id AS double) - 2.5D)) AS back")

  private def rows(name: String): Set[String] = {
    val df = if (name == "literal_rows") literalRows
             else graft.SparkEntry.queries(name)(spark, sf)
    df.collect().map(_.mkString("")).toSet
  }

  /** `Class.method` of every StaticInvoke in the plans the optimizer emits. */
  private val invoked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private object RecordInvokes extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      plan.foreach(_.expressions.foreach(_.foreach {
        case s: StaticInvoke =>
          invoked.add(s.staticObject.getName.stripSuffix("$") + "." + s.functionName)
        case _ =>
      }))
      plan
    }
  }

  test("gate queries agree between codegen and interpreted expression modes") {
    val names = queryNames.filter(graft.SparkEntry.queries.contains) :+ "literal_rows"
    assert(names.size == queryNames.size + 1,
      s"parity queries missing from the registry: ${queryNames.filterNot(names.contains)}")
    val extra = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = extra :+ RecordInvokes
    val codegen = try names.map(n => n -> rows(n)).toMap
                  finally spark.experimental.extraOptimizations = extra
    val uncovered = SqlFunctions.all.filterNot(f =>
      invoked.contains(f.target.getName.stripSuffix("$") + "." + f.method)).map(_.name)
    assert(uncovered.isEmpty, s"no parity query runs these SqlFunctions rows: $uncovered")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      names.foreach { n =>
        val interpreted = rows(n)
        assert(interpreted == codegen(n),
          s"$n diverges between interpreted and codegen: " +
            s"only-interpreted=${(interpreted -- codegen(n)).take(3)} " +
            s"only-codegen=${(codegen(n) -- interpreted).take(3)}")
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
