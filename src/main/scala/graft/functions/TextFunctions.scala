package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SQL-expressible text-analysis helpers: codegen'd built-ins plus the
  * compiled expressions of graft.plans (no UDFs in these paths — they
  * stay inside WholeStageCodegen and their filters can still be
  * reordered by Catalyst).
  *
  * ASCII char-class variants mirror the reference's metric semantics
  * (`create_stack_snippets.py:144-175`) for ASCII corpora where they are
  * DuckDB-oracle-checkable; the Unicode-exact versions live in
  * graft.quality.Metrics (typed path). The class counters and
  * `lineCount` are native byte scans (`graft.plans.AsciiClassCount`), one
  * pass per counter, value-identical to the regexp forms the oracle SQL
  * spells out: `length(c) - length(regexp_replace(c, "[class]", ""))`
  * and `size(split(c, "\n", -1))`.
  *
  * Known whitespace divergence: `wsCount` (and so `punctCount`) counts
  * Java regex `\s`, which includes U+000B (vertical tab); the DuckDB
  * oracle's `[\s]` is RE2's, which excludes it. The q14/q15/q17 oracles
  * therefore agree only on text without U+000B; `TextFunctionsSpec` pins
  * the engine's side.
  */
object TextFunctions {

  import graft.plans.AsciiClassCount.{Digit, Letter, Newline, Space}
  import graft.plans.GraftFunctions.asciiClassCount

  /** Whitespace-token count (0 for blank). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(split(trim(c), "\\s+")))

  def letterCount(c: Column): Column = asciiClassCount(c, Letter)
  def digitCount(c: Column): Column = asciiClassCount(c, Digit)
  def wsCount(c: Column): Column = asciiClassCount(c, Space)
  /** punct = total - letters - digits - whitespace (reference definition),
    * in one scan. */
  def punctCount(c: Column): Column =
    asciiClassCount(c, Letter | Digit | Space, invert = true)

  /** Lines as `\n`-separated pieces: newlines + 1 (1 for ""). Null for
    * null, as `size(split(..))` under ANSI mode (Spark 4's default); the
    * split form gave -1 with `spark.sql.ansi.enabled=false`. */
  def lineCount(c: Column): Column = asciiClassCount(c, Newline) + 1

  /** BPE-style pretokenizer regex (GPT-2-shaped, ASCII, RE2-compatible —
    * no lookahead so the DuckDB oracle counts the same matches): English
    * contractions, space-prefixed letter runs, digit runs, punct runs,
    * whitespace runs. Both Java regex and RE2 use leftmost-first
    * alternation, so counts agree across engines. */
  final val BpeTokenRe = "'(?:ll|ve|re|[sdmt])| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s+"

  /** BPE-ish token count: number of pretokenizer matches (codegen'd
    * regexp_count — the cheap upper-bound proxy for LLM token budgeting;
    * whitespace tokenCount is the other, cheaper proxy). */
  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(BpeTokenRe))

  /** Default English stopword set (tiny, ASCII — the usual quality-signal
    * core; extend per corpus). */
  final val Stopwords: Array[String] = Array(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "was", "at", "by", "be", "this")

  /** Count of whitespace tokens (lowercased) that are stopwords — exact
    * integer, so aggregates stay oracle-checkable (ratios are for the
    * consumer to derive). */
  def stopwordCount(c: Column, stopwords: Seq[String] = Stopwords.toSeq): Column = {
    val words = split(lower(trim(c)), "\\s+")
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(filter(words, w => w.isInCollection(stopwords))))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * oracle-checkable exact-dup key (generalizes features.py:87-88's
    * content fingerprint to per-row identity). */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(c), "\\s+", " "))

  /** Deterministic bucket in [0, buckets) from an id column via md5 — a
    * pure function of row identity, reproducible at any parallelism AND
    * expressible in ANSI SQL for the oracle (SURVEY.md §7.4.3). Engine hot
    * paths use xxhash64 (cheaper); this is the cross-engine-checkable form. */
  def md5Bucket(id: Column, buckets: Int): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long"), lit(buckets))

  /** Quality score in [0,1]: blend of reference junk signals, SQL-only. */
  def qualityScore(c: Column): Column = {
    val total = length(c).cast("double")
    val letterRatio = when(total === 0, 0.0).otherwise(letterCount(c) / total)
    val digitRatio = when(total === 0, 0.0).otherwise(digitCount(c) / total)
    val punctRatio = when(total === 0, 0.0).otherwise(punctCount(c) / total)
    val lenOk = when(length(c) >= 75 && length(c) <= 50000, 1.0).otherwise(0.0)
    val letterOk = when(letterRatio >= 0.01 && letterRatio <= 0.9, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio <= 0.4, 1.0).otherwise(0.0)
    val digitOk = when(digitRatio <= 0.5, 1.0).otherwise(0.0)
    (lenOk + letterOk + punctOk + digitOk) / 4.0
  }
}
