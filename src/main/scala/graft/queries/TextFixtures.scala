package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Dedup, TextOps}

/** The document inputs the text and dedup queries share: each gate and
  * each shared pair stage is derived once for Spark and once as DuckDB
  * CTEs, so a query's plan and its oracle read the same documents.
  */
private[queries] object TextFixtures {

  // ---------------------------------------------------------------
  // gates
  // ---------------------------------------------------------------

  /** The documents the blocked near-dup queries compare: non-null
    * text, lang and n_chars and at least 3 tokens, with the length
    * block `lb = n_chars / 50`. lang and n_chars are non-null because
    * Spark's struct-key join treats NULL fields as equal while the
    * oracle's `a.lang = b.lang` drops them. */
  def blockedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("text").isNotNull && col("lang").isNotNull
        && col("n_chars").isNotNull
        && TextOps.tokenCount(col("text")) >= 3)
      .withColumn("lb", (col("n_chars") / lit(50)).cast("long"))

  /** [[blockedDocs]] as the CTE `$out(doc_id, text, lang, lb)`. */
  def blockedDocsSql(out: String): String =
    s"""$out AS (
      SELECT doc_id, text, lang, CAST(n_chars // 50 AS BIGINT) AS lb
      FROM documents
      WHERE text IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL
        AND len(${TextOps.tokensSql("text")}) >= 3)"""

  /** The documents the containment queries compare: non-null text and
    * lang and at least 3 tokens. No length block: cross-length pairs
    * are what containment exists for. */
  def containmentDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("text").isNotNull && col("lang").isNotNull
        && TextOps.tokenCount(col("text")) >= 3)

  /** [[containmentDocs]] as the CTE `$out(doc_id, lang, text)`. */
  def containmentDocsSql(out: String): String =
    s"""$out AS (
      SELECT doc_id, lang, text FROM documents
      WHERE text IS NOT NULL AND lang IS NOT NULL
        AND len(${TextOps.tokensSql("text")}) >= 3)"""

  // ---------------------------------------------------------------
  // shared pair stages
  // ---------------------------------------------------------------

  /** Exact blocked shingle-Jaccard pairs (J ≥ 0.5, block = lang × lb)
    * over [[blockedDocs]]: the pair list of `x_dedup_jaccard` and the
    * edge list of the cluster queries. */
  def blockedJaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(
      Dedup.shingled(blockedDocs(s, d), col("doc_id"), col("text"),
        keep = Seq(col("lang"), col("lb"))),
      block = struct(col("lang"), col("lb")),
      minJaccard = 0.5)

  /** [[blockedJaccardPairs]] as CTEs: `blocked` ([[blockedDocsSql]]),
    * `docs(doc_id, lang, lb, shingles)` and `pairs(doc_a, doc_b,
    * jaccard)`. */
  val blockedJaccardPairsSql: String =
    s"""${blockedDocsSql("blocked")},
    ${Dedup.shinglesSqlCte("blocked", "docs", keep = Seq("lang", "lb"))},
    pairs AS (${Dedup.jaccardPairsSql("docs", Seq("lang", "lb"), 0.5)})"""

  // ---------------------------------------------------------------
  // classifier scores
  // ---------------------------------------------------------------

  /** The hashed-classifier score `s` ([[TextOps.hashClfScore]]) and the
    * is-English label `y` of every document with text and lang, as the
    * CTE `$out(s, y)` — the input of the model-evaluation oracles. */
  def englishScoresSql(out: String): String =
    s"""$out AS (
      SELECT ${TextOps.hashClfScoreSql("text")} AS s, lang = 'en' AS y
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL)"""
}
