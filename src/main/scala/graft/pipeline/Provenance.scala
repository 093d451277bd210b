package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * URL / domain provenance operators — the RefinedWeb/C4-style filtering
 * pass that drops documents by where they came from: extract URLs from
 * text, normalize them to registrable-host form, and flag documents whose
 * domains hit a blocklist (adult/spam/SEO lists in production).
 *
 * Patterns follow the [[Pii]] cross-engine contract: the regex subset
 * whose semantics are IDENTICAL under Java's engine (Spark) and RE2
 * (DuckDB) — character classes, bounded repetition, optional groups; no
 * alternation, no lookaround — so extraction and the derived keep/drop
 * decisions replay bit-identically in an independent engine.
 *
 * Scale shape: extraction and normalization are codegen'd per-row
 * projections (no shuffle). Blocklist flagging ships (id, domain) pairs —
 * never text — through one semi-join against the blocklist (broadcast for
 * any real-world list size) and one id-keyed flag join back.
 */
object Provenance {
  /** http(s) URL: scheme, host, optional port, path/query chars. */
  val urlPattern: String =
    "https?://[A-Za-z0-9.-]+(:[0-9]{1,5})?[A-Za-z0-9/._~%+&#?=-]*"

  /** Host capture (group 1) over a LOWERCASED url; the class excludes ':'
    * so ports never enter the host. */
  val hostPattern: String = "https?://([a-z0-9.-]+)"

  /** All URLs in document order. */
  def urls(text: Column): Column =
    regexp_extract_all(text, lit(urlPattern), lit(0))

  /** Normalized domain of one URL: lowercase host, port stripped by the
    * host class, leading "www." removed. */
  def domainOf(url: Column): Column =
    regexp_replace(regexp_extract(lower(url), hostPattern, 1), "^www\\.", "")

  /** Sorted distinct normalized domains of a document — sorted so the
    * array is deterministic (list_distinct order is engine-internal). */
  def domains(text: Column): Column =
    array_sort(array_distinct(transform(urls(text), u => domainOf(u))))

  /** Appends `n_urls` (long) and `domains` (sorted array<string>). */
  def withDomains(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("n_urls", size(urls(col(textCol))).cast("long"))
      .withColumn("domains", domains(col(textCol)))

  /**
   * Canonical URL key of a document's FIRST URL — the page identity used
   * for crawl-level dedup: lowercase, port stripped (host class), leading
   * "www." stripped, fragment stripped, trailing slash stripped; query
   * strings KEPT (distinct query = distinct page, the C4 stance). NULL
   * when the document carries no URL. Every regexp here is in the
   * [[Pii]]-contract subset and every replacement is literal (no
   * backreferences), so the key re-derives identically cross-engine.
   */
  def urlKey(text: Column): Column = {
    val u = lower(regexp_extract(text, urlPattern, 0))
    val path = regexp_replace(regexp_replace(
      regexp_replace(u, "^https?://[a-z0-9.-]+(:[0-9]{1,5})?", ""),
      "#.*$", ""), "/$", "")
    val dom = regexp_replace(regexp_extract(u, hostPattern, 1), "^www\\.", "")
    when(u === "", lit(null).cast("string")).otherwise(concat(dom, path))
  }

  /**
   * URL-keyed exact dedup — the crawl-dedup pass that runs BEFORE content
   * dedup (one document per page: re-crawls, mirrors-with-fragments, and
   * http/https/www variants collapse): among documents sharing a
   * [[urlKey]], only the minimum id is kept; documents with no URL always
   * stay. Appends `url_key` and `kept` (1/0) rather than dropping rows,
   * so the decision is auditable and the drop is one trailing filter.
   *
   * Scale shape: the decision stream is (id, url_key) pairs — text never
   * enters the min-aggregate shuffle; the drop set (duplicate ids only,
   * far smaller than the corpus when dup rates are sane) joins back on
   * the id, broadcast under AQE whenever it fits.
   */
  def dedupByUrl(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val pairs = df.select(col(idCol).as("__id"), urlKey(col(textCol)).as("__k"))
      .filter(col("__k").isNotNull)
    val drops = pairs.join(
        pairs.groupBy(col("__k")).agg(min(col("__id")).as("__keep")), "__k")
      .filter(col("__id") =!= col("__keep"))
      .select(col("__id"))
    df.join(drops, col(idCol) === col("__id"), "left")
      .withColumn("url_key", urlKey(col(textCol)))
      .withColumn("kept", when(col("__id").isNull, 1L).otherwise(0L))
      .drop("__id")
  }

  /**
   * Blocklist flagging against a lake-resident blocklist table
   * (`domain` column): appends `blocked` (long 0/1). The blocklist
   * broadcasts (real-world lists are ≤ millions of rows); the corpus
   * contributes only (id, domain) pairs to the semi-join, and the flag
   * rejoins on the id — document text never shuffles.
   */
  def flagBlocked(df: DataFrame, blocklist: DataFrame,
                  idCol: String = "doc_id",
                  domainsCol: String = "domains"): DataFrame = {
    val hits = df.select(col(idCol).as("__pid"),
        explode(col(domainsCol)).as("__dom"))
      .join(broadcast(blocklist.select(col("domain").as("__dom"))), Seq("__dom"),
        "leftsemi")
      .select(col("__pid")).distinct()
      .withColumn("__blocked", lit(1L))
    df.join(hits, col(idCol) === col("__pid"), "left")
      .withColumn("blocked", coalesce(col("__blocked"), lit(0L)))
      .drop("__pid", "__blocked")
  }
}
