package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.quality.Rules
import graft.queries._
import graft.queries.Shared.t

/** Driver contract — one query per implemented operator (SURVEY.md §2),
  * each with equivalent DuckDB oracle SQL. Every query is one
  * [[graft.queries.Q]] record in a domain object of `graft.queries`; the
  * three maps below are views of those records.
  */
object SparkEntry {

  /** Flagship: the quality_filter pipeline shape over the documents table
    * at sf0.001 — metrics, junk rules, PII scrub, fingerprint, token count,
    * language-ID with the FULL reference-scale 746-token model (broadcast
    * Aho–Corasick, one pass per row).
    * One narrow stage: scan → project/filter → result (no shuffle).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = t(spark, dir, "documents")
    val text = col("text")
    val total = length(text).cast("double")
    val piiScrub = udf((s: String) => graft.text.Scrub.scrubPii(s))
    val scorer = spark.sparkContext.broadcast(
      new graft.score.Scorer(graft.model.ReferenceFeatures.fullModel))
    val langPred = udf((s: String) => scorer.value.predictLabel(s))
    docs
      .withColumn("lang_pred", langPred(text))
      .withColumn("n_tokens", tokenCount(text))
      .withColumn("letter_ratio", when(total === 0, 0.0).otherwise(letterCount(text) / total))
      .withColumn("digit_ratio", when(total === 0, 0.0).otherwise(digitCount(text) / total))
      .withColumn("punct_ratio", when(total === 0, 0.0).otherwise(punctCount(text) / total))
      .withColumn("line_count", lineCount(text))
      .withColumn("keep", !Rules.isJunkCol(length(text), lineCount(text),
        col("letter_ratio"), col("punct_ratio"), col("digit_ratio")))
      .withColumn("quality", qualityScore(text))
      .withColumn("fingerprint", fingerprint(text))
      .withColumn("scrubbed", piiScrub(text))
  }

  private lazy val all: Seq[Q] = Q.unique(
    RelationalQueries.all ++ TextQualityQueries.all ++ DedupQueries.all ++
      AnnMediaQueries.all ++ LangIdQueries.all ++ LayoutStreamQueries.all)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap

  /** Oracles valid only at one scale factor: see [[graft.queries.Q]]'s `pin`. */
  def oracleSfPins: Map[String, String] =
    all.flatMap(q => q.pin.map(q.name -> _)).toMap
}
