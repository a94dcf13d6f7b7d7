package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers that queries of more than one domain object use: the table
  * reader, shared test-input construction and shared oracle SQL fragments. */
object Shared {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // non-negative 32-bit value, so plain % is safe (DuckDB has no pmod)
  private[queries] val md5bucket =
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100)"

  private[queries] val fpSql = "md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private[queries] val tokSql = "(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"

  /** documents.text with Gopher-rule trigger material planted
    * deterministically (word-soup has no bullets/symbols/ellipses and at
    * most one stopword, so the signals would be degenerate): bullets on
    * %6, '#' symbols on %9, ellipsis lines on %8==1, stopwords on %7==2.
    * Shared by q75 (signal table) and q79 (streaming keep gate); the
    * oracle replays the identical CASE chain in SQL. */
  private[queries] def gopherPlanted: Column = {
    val t1 = when(col("doc_id") % 6 === 0,
      concat(col("text"), lit("\n- first bullet item\n* second bullet item")))
      .otherwise(col("text"))
    val t2 = when(col("doc_id") % 9 === 0, concat(t1, lit(" ## ## #"))).otherwise(t1)
    val t3 = when(col("doc_id") % 8 === 1,
      concat(t2, lit("\nwait for more...\nnot done"))).otherwise(t2)
    when(col("doc_id") % 7 === 2,
      concat(t3, lit(" and that have with to be of"))).otherwise(t3)
  }

  // gopherPlanted's CASE chain + the Gopher signal battery (shared by
  // q75/q79): integer counts, one double division per ratio — mirrors
  // quality/GopherRules.scala expression for expression
  private[queries] val gopherPlantedSql =
    """p AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 7 = 2 THEN t3 || ' and that have with to be of' ELSE t3 END AS t2
      |  FROM (SELECT doc_id, lang,
      |          CASE WHEN doc_id % 8 = 1 THEN tx || chr(10) || 'wait for more...' || chr(10) || 'not done' ELSE tx END AS t3
      |        FROM (SELECT doc_id, lang,
      |                CASE WHEN doc_id % 9 = 0 THEN t1 || ' ## ## #' ELSE t1 END AS tx
      |              FROM (SELECT doc_id, lang,
      |                      CASE WHEN doc_id % 6 = 0
      |                        THEN text || chr(10) || '- first bullet item' || chr(10) || '* second bullet item'
      |                        ELSE text END AS t1
      |                    FROM documents))))""".stripMargin

  private[queries] val gopherSignalsSql =
    """arr AS (
      |  SELECT doc_id, lang, t2,
      |    list_filter(regexp_split_to_array(t2, '\s+'), x -> x <> '') AS ws,
      |    list_filter(string_split(t2, chr(10)), x -> len(x) > 0) AS ls
      |  FROM p),
      |m AS (
      |  SELECT doc_id, lang,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(CASE WHEN len(ws) = 0 THEN 0.0
      |      ELSE CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / CAST(len(ws) AS DOUBLE)
      |      END AS DOUBLE) AS mean_word_len,
      |    CAST(CASE WHEN len(ws) = 0 THEN 0.0
      |      ELSE ((len(t2) - len(replace(t2, '#', ''))) / 1.0) / CAST(len(ws) AS DOUBLE)
      |      END AS DOUBLE) AS hash_word_ratio,
      |    CAST(CASE WHEN len(ws) = 0 THEN 0.0
      |      ELSE ((len(t2) - len(replace(t2, '...', ''))) / 3.0) / CAST(len(ws) AS DOUBLE)
      |      END AS DOUBLE) AS ellipsis_word_ratio,
      |    CAST(CASE WHEN len(ls) = 0 THEN 0.0
      |      ELSE CAST(len(list_filter(ls, x -> starts_with(x, '- ') OR starts_with(x, '* ') OR starts_with(x, '•'))) AS DOUBLE)
      |           / CAST(len(ls) AS DOUBLE) END AS DOUBLE) AS bullet_line_frac,
      |    CAST(CASE WHEN len(ls) = 0 THEN 0.0
      |      ELSE CAST(len(list_filter(ls, x -> x LIKE '%...')) AS DOUBLE)
      |           / CAST(len(ls) AS DOUBLE) END AS DOUBLE) AS ellipsis_line_frac,
      |    CAST(CASE WHEN len(ws) = 0 THEN 0.0
      |      ELSE CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
      |           / CAST(len(ws) AS DOUBLE) END AS DOUBLE) AS alpha_word_frac,
      |    CAST(len(list_intersect(list_distinct(list_transform(ws, w -> lower(w))),
      |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stopword_hits
      |  FROM arr),
      |k AS (
      |  SELECT *,
      |    CAST((n_words BETWEEN 50 AND 100000
      |      AND mean_word_len BETWEEN 3.0 AND 10.0
      |      AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
      |      AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
      |      AND alpha_word_frac >= 0.8 AND stopword_hits >= 2) AS INTEGER) AS keep
      |  FROM m)""".stripMargin
}
