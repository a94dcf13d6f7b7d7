package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.quality.Rules
import Shared._

/** Text-quality queries: char-class and token metrics, junk and C4/Gopher
  * rules, repetition signals, boilerplate removal, LM scoring, Unicode
  * normalization and stopword gates. */
object TextQualityQueries {

  private def asciiLetterRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(letterCount(c) / length(c).cast("double"))
  private def asciiDigitRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(digitCount(c) / length(c).cast("double"))
  private def asciiPunctRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(punctCount(c) / length(c).cast("double"))

  // boilerplate lines: same planted footer, doc-frequency >= 50 set,
  // per-doc rebuild; the rewrite drops blank lines by construction
  // in BOTH engines (nonempty-line arrays rejoined)
  private val boilerplateOracleSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 0
      |      THEN text || chr(10) || 'Subscribe to our newsletter today.'
      |      ELSE text END AS t2
      |  FROM documents),
      |l AS (SELECT doc_id,
      |        list_filter(string_split(t2, chr(10)), x -> len(x) > 0) AS ls
      |      FROM p),
      |e AS (SELECT unnest(list_distinct(ls)) AS line FROM l),
      |freq AS (SELECT line FROM
      |          (SELECT line, count(*) AS df FROM e GROUP BY 1) WHERE df >= 50),
      |fl AS (SELECT coalesce(list(line), []) AS f FROM freq)
      |SELECT doc_id,
      |  CAST(len(coalesce(array_to_string(kept, chr(10)), '')) AS BIGINT) AS n_chars_clean,
      |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
      |FROM (SELECT doc_id, list_filter(ls, x -> NOT list_contains(f, x)) AS kept
      |      FROM l CROSS JOIN fl)
      |ORDER BY doc_id""".stripMargin

  private val letterCountSql = "(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))"
  private val digitCountSql = "(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
  private val wsCountSql = "(length(text) - length(regexp_replace(text, '[\\s]', '', 'g')))"
  private val punctCountSql = s"(length(text) - $letterCountSql - $digitCountSql - $wsCountSql)"
  private val lineCountSql = "len(string_split(text, chr(10)))"

  private val junkSql =
    s"""(length(text) < 75 OR length(text) > 50000 OR $lineCountSql > 100
       | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $letterCountSql / CAST(length(text) AS DOUBLE) END) < 0.01
       | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $letterCountSql / CAST(length(text) AS DOUBLE) END) > 0.9
       | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $punctCountSql / CAST(length(text) AS DOUBLE) END) < 0.01
       | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $punctCountSql / CAST(length(text) AS DOUBLE) END) > 0.4
       | OR (CASE WHEN length(text)=0 THEN 0.0 ELSE $digitCountSql / CAST(length(text) AS DOUBLE) END) > 0.5)""".stripMargin

  val all: Seq[Q] = Seq(
    // Gopher-family repetition signals (dup-line fraction, dup-line char
    // fraction, ellipsis-line fraction — Rae et al. 2021 Table A1): one
    // narrow codegen'd stage of higher-order array functions over the
    // in-row line array, no explode/shuffle/UDF. Repetition is planted
    // deterministically (doc_id % 3) INSIDE the query so both engines
    // construct identical input — the raw word-soup docs carry no
    // repetition of their own.
    Q("q62_repetition", ((s, dir) => {
      val injected = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n"), substring(col("text"), 1, 30),
          lit("\n"), substring(col("text"), 1, 30), lit("\nto be continued...")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), injected.as("text2"))
        .select(col("doc_id"),
          graft.quality.Repetition.nLines(col("text2")).as("n_lines"),
          graft.quality.Repetition.dupLineFrac(col("text2")).as("dup_line_frac"),
          graft.quality.Repetition.dupLineCharFrac(col("text2")).as("dup_line_char_frac"),
          graft.quality.Repetition.ellipsisLineFrac(col("text2")).as("ellipsis_line_frac"))
        .orderBy("doc_id")
    }),
      // repetition signals: identical planted-repetition construction,
      // integer counts/sums then ONE double division per signal (order
      // of operations mirrored for bit-equality)
      oracle =
        """WITH inj AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 3 = 0
          |      THEN text || chr(10) || substr(text, 1, 30) || chr(10)
          |           || substr(text, 1, 30) || chr(10) || 'to be continued...'
          |      ELSE text END AS text2
          |  FROM documents),
          |l AS (SELECT doc_id,
          |        list_filter(string_split(text2, chr(10)), x -> len(x) > 0) AS ls
          |      FROM inj)
          |SELECT doc_id,
          |  CAST(len(ls) AS BIGINT) AS n_lines,
          |  CAST(CASE WHEN len(ls) = 0 THEN 0.0
          |    ELSE 1.0 - (CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE))
          |    END AS DOUBLE) AS dup_line_frac,
          |  CAST(CASE WHEN len(ls) = 0 THEN 0.0
          |    ELSE CAST(list_sum(list_transform(ls, x ->
          |           CASE WHEN len(list_filter(ls, y -> y = x)) > 1 THEN len(x) ELSE 0 END)) AS DOUBLE)
          |         / CAST(list_sum(list_transform(ls, x -> len(x))) AS DOUBLE)
          |    END AS DOUBLE) AS dup_line_char_frac,
          |  CAST(CASE WHEN len(ls) = 0 THEN 0.0
          |    ELSE CAST(len(list_filter(ls, x -> x LIKE '%...')) AS DOUBLE) / CAST(len(ls) AS DOUBLE)
          |    END AS DOUBLE) AS ellipsis_line_frac
          |FROM l ORDER BY doc_id""".stripMargin),

    // corpus-frequency boilerplate-line removal (RefinedWeb/CCNet shape):
    // lines occurring in >= 50 distinct docs are removed from every doc.
    // Gated on the any-size JOIN tier (posexplode -> anti-join -> ordered
    // rebuild); the broadcast tier is spec-asserted result-identical.
    // A footer is planted on doc_id % 4 == 0 (125 docs at sf0.01) so a
    // genuinely frequent line exists.
    Q("q66_boilerplate_lines", ((s, dir) => {
      val planted = when(col("doc_id") % 4 === 0,
        concat(col("text"), lit("\nSubscribe to our newsletter today.")))
        .otherwise(col("text"))
      val docs = t(s, dir, "documents").select(col("doc_id"), planted.as("text"))
      graft.dedup.Dedup.dropBoilerplateLinesJoin(docs, "text", "doc_id", minDocFreq = 50)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),
      oracle = boilerplateOracleSql),

    // calibration / reliability table over a SQL-expressible score:
    // exact quantile cutoffs (percentile == quantile_cont), equal-
    // population bins, integer-ratio accuracy — the machinery langid's
    // confidence runs through in PipelineSpec, gated here bit-for-bit
    Q("q68_reliability", ((s, dir) => {
      val total = length(col("text")).cast("double")
      val conf = when(length(col("text")) === 0, 0.0)
        .otherwise(letterCount(col("text")) / total)
      val scored = t(s, dir, "documents")
        .select(conf.as("conf"), (col("n_chars") % 2 === 0).cast("int").as("correct"))
      graft.eval.Calibration.reliabilityTableExact(scored, "conf", "correct", nBins = 4)
        .select(col("bin"), col("n"),
          round(col("mean_conf"), 6).as("mean_conf6"), col("accuracy"))
        .orderBy("bin")
    }),
      // reliability: identical conf construction, quantile_cont cutoffs
      // (bit-equal to Spark's percentile), integer-ratio accuracy; only
      // mean_conf is rounded (sum order differs across engines)
      oracle =
        s"""WITH s AS (
           |  SELECT CASE WHEN length(text) = 0 THEN 0.0
           |           ELSE $letterCountSql / CAST(length(text) AS DOUBLE) END AS conf,
           |         CASE WHEN n_chars % 2 = 0 THEN 1 ELSE 0 END AS correct
           |  FROM documents),
           |c AS (SELECT quantile_cont(conf, 0.25) AS c1, quantile_cont(conf, 0.5) AS c2,
           |             quantile_cont(conf, 0.75) AS c3 FROM s),
           |b AS (SELECT CASE WHEN conf <= c1 THEN 0 WHEN conf <= c2 THEN 1
           |               WHEN conf <= c3 THEN 2 ELSE 3 END AS bin, conf, correct
           |      FROM s CROSS JOIN c)
           |SELECT bin, CAST(count(*) AS BIGINT) AS n,
           |  round(avg(conf), 6) AS mean_conf6,
           |  CAST(CAST(sum(correct) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
           |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // the BROADCAST tier of boilerplate removal under the SAME oracle as
    // q66 (the q55/q57 dual-gating pattern: both execution paths must
    // produce identical bytes) — corpus never shuffles on this tier
    Q("q67_boilerplate_broadcast", ((s, dir) => {
      val planted = when(col("doc_id") % 4 === 0,
        concat(col("text"), lit("\nSubscribe to our newsletter today.")))
        .otherwise(col("text"))
      val docs = t(s, dir, "documents").select(col("doc_id"), planted.as("text"))
      graft.dedup.Dedup.dropBoilerplateLines(docs, "text", "doc_id", minDocFreq = 50)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),
      // broadcast tier: SAME oracle as q66 (dual-gated execution paths)
      oracle = boilerplateOracleSql),

    // C4-family line-level cleaning: terminal-punctuation + min-words +
    // javascript/brace line rules, lorem-ipsum doc drop — the canonical
    // web-cleaning recipe as one narrow higher-order-function stage.
    // Deterministic prose/boilerplate lines are planted IN the query
    // (word-soup docs have no natural C4 structure); md5 of the rebuilt
    // text gates byte-exact line-edit parity.
    Q("q65_c4_line_filter", ((s, dir) => {
      val planted = when(col("doc_id") % 5 === 0,
          concat(col("text"), lit("\nLorem Ipsum dolor sit.")))
        .otherwise(when(col("doc_id") % 2 === 0,
          concat(col("text"),
            lit("\nThis is a good sentence."),
            lit("\nPlease enable javascript to continue."),
            lit("\nshort."),
            lit("\ntemplate braces { are here.")))
          .otherwise(col("text")))
      t(s, dir, "documents").select(col("doc_id"), planted.as("t2"))
        .filter(!graft.quality.C4Rules.dropDoc(col("t2")))
        .select(col("doc_id"),
          size(graft.quality.C4Rules.filterLines(col("t2"))).cast("long").as("n_kept"),
          md5(graft.quality.C4Rules.cleanText(col("t2"))).as("clean_md5"))
        .orderBy("doc_id")
    }),
      // C4 line filter: same planted construction, same line predicate,
      // md5 of the rejoined survivors
      oracle =
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || 'Lorem Ipsum dolor sit.'
          |         WHEN doc_id % 2 = 0 THEN text
          |           || chr(10) || 'This is a good sentence.'
          |           || chr(10) || 'Please enable javascript to continue.'
          |           || chr(10) || 'short.'
          |           || chr(10) || 'template braces { are here.'
          |         ELSE text END AS t2
          |  FROM documents),
          |f AS (
          |  SELECT doc_id,
          |    list_filter(string_split(t2, chr(10)), x ->
          |      regexp_matches(x, '[.!?"]$')
          |      AND len(list_filter(string_split(regexp_replace(x, '\s+', ' ', 'g'), ' '),
          |                          w -> len(w) > 0)) >= 3
          |      AND NOT contains(lower(x), 'javascript')
          |      AND NOT contains(x, '{')) AS kept
          |  FROM p
          |  WHERE NOT contains(lower(t2), 'lorem ipsum'))
          |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
          |  -- array_to_string of an EMPTY list is NULL in DuckDB but ''
          |  -- in Spark's array_join: coalesce for parity
          |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
          |FROM f ORDER BY doc_id""".stripMargin),

    // top word-bigram char fraction (the remaining Gopher repetition
    // signal, catches generation loops no line-dup sees): native
    // codegen'd expression, O(words) exact hash count per row — the
    // built-in higher-order-function form would be O(words^2)
    Q("q64_top_ngram", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.topNgramCharFrac(col("text"), 2)
            .as("top_bigram_char_frac"))
        .orderBy("doc_id")),
      // top bigram: same overlapping-window count (list lambdas, O(W^2)
      // is fine as an oracle), integer count x chars then one division
      oracle =
        """WITH w AS (
          |  SELECT doc_id, text,
          |    list_filter(string_split(regexp_replace(text, '\s+', ' ', 'g'), ' '),
          |                x -> len(x) > 0) AS ws
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, text,
          |    list_transform(generate_series(1, len(ws) - 1),
          |                   i -> ws[i] || ' ' || ws[i + 1]) AS bg
          |  FROM w)
          |SELECT doc_id,
          |  CAST(CASE WHEN len(bg) = 0 OR len(text) = 0 THEN 0.0
          |    ELSE CAST(list_max(list_transform(list_distinct(bg),
          |           x -> len(list_filter(bg, y -> y = x)) * len(x))) AS DOUBLE)
          |         / CAST(len(text) AS DOUBLE)
          |  END AS DOUBLE) AS top_bigram_char_frac
          |FROM g ORDER BY doc_id""".stripMargin),

    // BPE-ish token counting (regex pretokenizer match count) + stopword
    // hits — exact integer aggregates, both codegen'd built-ins (no UDF)
    Q("q45_token_budget", ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(sum(bpeTokenCount(col("text"))).as("bpe_tokens"),
          sum(tokenCount(col("text"))).as("ws_tokens"),
          sum(stopwordCount(col("text"))).as("stopword_hits"),
          count(lit(1)).as("n"))
        .orderBy("source")),
      oracle = {
        val bpeRe = graft.functions.TextFunctions.BpeTokenRe.replace("'", "''")
        val stops = graft.functions.TextFunctions.Stopwords
          .map(s => s"'$s'").mkString("[", ",", "]")
        s"""SELECT source,
           | CAST(sum(len(regexp_extract_all(text, '$bpeRe'))) AS BIGINT) AS bpe_tokens,
           | CAST(sum($tokSql) AS BIGINT) AS ws_tokens,
           | CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
           |   len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
           |       w -> list_contains($stops, w))) END) AS BIGINT) AS stopword_hits,
           | count(*) AS n
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // token counting
    Q("q13_token_stats", ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(sum(tokenCount(col("text"))).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy("source")),
      oracle =
        s"""SELECT source, CAST(sum($tokSql) AS BIGINT) AS n_tokens,
           | CAST(sum(n_chars) AS BIGINT) AS n_chars
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // F7 char-class metrics (ASCII, exact integer sums)
    Q("q14_charclass", ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(sum(letterCount(col("text"))).as("letters"),
          sum(digitCount(col("text"))).as("digits"),
          sum(wsCount(col("text"))).as("ws"),
          sum(punctCount(col("text"))).as("punct"))
        .orderBy("source")),
      oracle =
        s"""SELECT source, CAST(sum($letterCountSql) AS BIGINT) AS letters,
           | CAST(sum($digitCountSql) AS BIGINT) AS digits,
           | CAST(sum($wsCountSql) AS BIGINT) AS ws,
           | CAST(sum($punctCountSql) AS BIGINT) AS punct
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // F2 junk filter decisions
    Q("q15_junk_filter", ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("keep", !Rules.isJunkCol(length(col("text")), lineCount(col("text")),
          asciiLetterRatio(col("text")), asciiPunctRatio(col("text")), asciiDigitRatio(col("text"))))
        .groupBy("lang", "keep").agg(count(lit(1)).as("n"))
        .orderBy("lang", "keep")),
      oracle =
        s"SELECT lang, NOT $junkSql AS keep, count(*) AS n FROM documents GROUP BY 1, 2 ORDER BY 1, 2"),

    // document fingerprinting
    Q("q16_fingerprint", ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
      oracle =
        s"SELECT doc_id, $fpSql AS fp FROM documents ORDER BY doc_id"),

    // quality scoring (integer-exact component sum)
    Q("q17_quality", ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(sum((qualityScore(col("text")) * 4).cast("long")).as("ok_components"),
          count(lit(1)).as("n"))
        .orderBy("source")),
      oracle =
        s"""SELECT source, CAST(sum(
           |  CAST((CASE WHEN length(text) BETWEEN 75 AND 50000 THEN 1.0 ELSE 0.0 END
           |   + CASE WHEN (CASE WHEN length(text)=0 THEN 0.0 ELSE $letterCountSql / CAST(length(text) AS DOUBLE) END) BETWEEN 0.01 AND 0.9 THEN 1.0 ELSE 0.0 END
           |   + CASE WHEN (CASE WHEN length(text)=0 THEN 0.0 ELSE $punctCountSql / CAST(length(text) AS DOUBLE) END) <= 0.4 THEN 1.0 ELSE 0.0 END
           |   + CASE WHEN (CASE WHEN length(text)=0 THEN 0.0 ELSE $digitCountSql / CAST(length(text) AS DOUBLE) END) <= 0.5 THEN 1.0 ELSE 0.0 END) AS BIGINT)
           | ) AS BIGINT) AS ok_components, count(*) AS n
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Gopher QUALITY rules (Rae et al. Table A1, the non-repetition
    // layer): word count, mean word length, #/... symbol-to-word ratios,
    // bullet-line fraction, alpha-word fraction, stopword hits, combined
    // keep — one narrow codegen'd stage of higher-order functions, no
    // explode/shuffle/UDF. Bullets/symbols/ellipses/stopwords planted
    // deterministically (word-soup has none); integer counts then ONE
    // double division per ratio keep the gate bit-exact.
    Q("q75_gopher_rules", ((s, dir) => {
      val t2 = gopherPlanted
      t(s, dir, "documents").select(col("doc_id"), t2.as("t2"))
        .select(col("doc_id"),
          graft.quality.GopherRules.nWords(col("t2")).as("n_words"),
          graft.quality.GopherRules.meanWordLen(col("t2")).as("mean_word_len"),
          graft.quality.GopherRules.symbolWordRatio(col("t2"), "#").as("hash_word_ratio"),
          graft.quality.GopherRules.symbolWordRatio(col("t2"), "...").as("ellipsis_word_ratio"),
          graft.quality.GopherRules.bulletLineFrac(col("t2")).as("bullet_line_frac"),
          graft.quality.GopherRules.alphaWordFrac(col("t2")).as("alpha_word_frac"),
          graft.quality.GopherRules.stopwordHits(col("t2")).as("stopword_hits"),
          graft.quality.GopherRules.keep(col("t2")).cast("int").as("keep"))
        .orderBy("doc_id")
    }),
      // Gopher signal battery: identical planting, integer counts then
      // one double division per ratio (expression-for-expression mirror
      // of quality/GopherRules.scala)
      oracle =
        s"""WITH $gopherPlantedSql,
           |$gopherSignalsSql
           |SELECT doc_id, n_words, mean_word_len, hash_word_ratio,
           |  ellipsis_word_ratio, bullet_line_frac, alpha_word_frac,
           |  stopword_hits, keep
           |FROM k ORDER BY doc_id""".stripMargin),

    // Gopher dup signals at PARAGRAPH granularity (blank-line blocks):
    // word-soup has no paragraph breaks, so dup paragraphs are planted on
    // %5 (two copies of the doc's own prefix) and %7==3 (a literal block
    // repeated across a TRIPLE newline — exercising the "\n{2,}" split).
    // Same in-row O(P log P) kernels as the q62 line signals.
    Q("q80_para_repetition", ((s, dir) => {
      val p1 = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit("\n\n"), substring(col("text"), 1, 40),
          lit("\n\n"), substring(col("text"), 1, 40))).otherwise(col("text"))
      val p2 = when(col("doc_id") % 7 === 3,
        concat(p1, lit("\n\nrepeated block\n\n\nrepeated block"))).otherwise(p1)
      t(s, dir, "documents").select(col("doc_id"), p2.as("t2"))
        .select(col("doc_id"),
          graft.quality.Repetition.nParagraphs(col("t2")).as("n_paras"),
          graft.quality.Repetition.dupParaFrac(col("t2")).as("dup_para_frac"),
          graft.quality.Repetition.dupParaCharFrac(col("t2")).as("dup_para_char_frac"))
        .orderBy("doc_id")
    }),
      // paragraph-granularity dup signals: identical planting, the q62
      // quadratic list-lambda restatement at paragraph units
      oracle =
        """WITH inj AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 3
          |      THEN p1 || chr(10) || chr(10) || 'repeated block'
          |           || chr(10) || chr(10) || chr(10) || 'repeated block'
          |      ELSE p1 END AS t2
          |  FROM (SELECT doc_id,
          |          CASE WHEN doc_id % 5 = 0
          |            THEN text || chr(10) || chr(10) || substr(text, 1, 40)
          |                 || chr(10) || chr(10) || substr(text, 1, 40)
          |            ELSE text END AS p1
          |        FROM documents)),
          |l AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(t2, '\n{2,}'), x -> len(x) > 0) AS ps
          |      FROM inj)
          |SELECT doc_id,
          |  CAST(len(ps) AS BIGINT) AS n_paras,
          |  CAST(CASE WHEN len(ps) = 0 THEN 0.0
          |    ELSE 1.0 - (CAST(len(list_distinct(ps)) AS DOUBLE) / CAST(len(ps) AS DOUBLE))
          |    END AS DOUBLE) AS dup_para_frac,
          |  CAST(CASE WHEN len(ps) = 0 THEN 0.0
          |    ELSE CAST(list_sum(list_transform(ps, x ->
          |           CASE WHEN len(list_filter(ps, y -> y = x)) > 1 THEN len(x) ELSE 0 END)) AS DOUBLE)
          |         / CAST(list_sum(list_transform(ps, x -> len(x))) AS DOUBLE)
          |    END AS DOUBLE) AS dup_para_char_frac
          |FROM l ORDER BY doc_id""".stripMargin),

    // unigram LM quality score, QUANTIZED-BITS tier (the oracle-exact
    // tier of quality/LmScore; the true mean -ln p tier is spec-gated —
    // double sum order is engine-defined). Vocab counted over the same
    // corpus being scored, broadcast-joined; surprisal = bits(total) -
    // bits(cnt), integer sums, one final division.
    Q("q81_lm_score", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = graft.quality.LmScore.unigramCounts(docs, "text")
      graft.quality.LmScore.scoreQuantizedBits(docs, "text", "doc_id", counts)
        .orderBy("doc_id")
    }),
      // quantized-bits unigram surprisal: bits(n) = binary digit count
      // minus one (integer-exact floor log2, no libm), integer sums, one
      // final division
      oracle =
        """WITH w AS (
          |  SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
          |  FROM documents),
          |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
          |s AS (SELECT doc_id,
          |        CAST(length(format('{:b}', (SELECT total FROM t))) - 1 AS BIGINT)
          |        - CAST(length(format('{:b}', cnt)) - 1 AS BIGINT) AS bits
          |      FROM w JOIN c USING (word)),
          |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |        CAST(sum(bits) AS BIGINT) AS sum_bits
          |      FROM s GROUP BY 1)
          |SELECT d.doc_id AS doc_id,
          |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
          |  CAST(coalesce(a.sum_bits, 0) AS BIGINT) AS sum_bits,
          |  CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
          |    ELSE CAST(a.sum_bits AS DOUBLE) / CAST(a.n_tokens AS DOUBLE)
          |    END AS DOUBLE) AS mean_bits
          |FROM (SELECT doc_id FROM documents) d
          |LEFT JOIN a ON d.doc_id = a.doc_id
          |ORDER BY d.doc_id""".stripMargin),

    // CCNet-style LM quality band split end-to-end: score every doc by
    // quantized unigram surprisal (q81's tier), then keep the best three
    // quartiles PER LANGUAGE ("drop the worst quartile by perplexity per
    // language" — the CCNet head/middle split). The band metric is the
    // INTEGER milli-bits rate ((sum_bits*1000) div n_tokens), so the
    // exact percentile cutoffs interpolate integer-valued doubles at
    // dyadic fractions — bit-exact in any engine (the q58 stance).
    Q("q83_lm_band", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = graft.quality.LmScore.unigramCounts(docs, "text")
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(graft.quality.LmScore.scoreQuantizedBits(docs, "text", "doc_id", counts),
          Seq("doc_id"))
        .withColumn("milli_bits", when(col("n_tokens") === 0, 0L)
          .otherwise(expr("(sum_bits * 1000) div n_tokens")))
      graft.stats.Quantiles.keepQuantileBand(scored, col("milli_bits"),
          Seq("lang"), 0.0, 0.75, useExact = true)
        .select("doc_id", "lang", "n_tokens", "sum_bits", "milli_bits")
        .orderBy("doc_id")
    }),
      // LM band split: q81's quantized scores -> integer milli-bits rate
      // -> per-lang exact quantile band [min, p75]; integer division both
      // sides, dyadic interpolation over integer-valued doubles
      oracle =
        """WITH w AS (
          |  SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
          |  FROM documents),
          |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
          |s AS (SELECT doc_id,
          |        CAST(length(format('{:b}', (SELECT total FROM t))) - 1 AS BIGINT)
          |        - CAST(length(format('{:b}', cnt)) - 1 AS BIGINT) AS bits
          |      FROM w JOIN c USING (word)),
          |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |        CAST(sum(bits) AS BIGINT) AS sum_bits
          |      FROM s GROUP BY 1),
          |sc AS (SELECT d.doc_id, d.lang,
          |        CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
          |        CAST(coalesce(a.sum_bits, 0) AS BIGINT) AS sum_bits,
          |        CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
          |          ELSE (a.sum_bits * 1000) // a.n_tokens END AS BIGINT) AS milli_bits
          |      FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id),
          |cuts AS (SELECT lang,
          |        quantile_cont(CAST(milli_bits AS DOUBLE), 0.0) AS lo,
          |        quantile_cont(CAST(milli_bits AS DOUBLE), 0.75) AS hi
          |      FROM sc GROUP BY 1)
          |SELECT sc.doc_id AS doc_id, sc.lang AS lang, sc.n_tokens, sc.sum_bits, sc.milli_bits
          |FROM sc JOIN cuts ON sc.lang = cuts.lang
          |WHERE CAST(sc.milli_bits AS DOUBLE) BETWEEN cuts.lo AND cuts.hi
          |ORDER BY sc.doc_id""".stripMargin),

    // DSIR domain-importance weights (quantized-bits tier): target
    // domain = the 'de' slice of the corpus, raw = the whole corpus;
    // weight = quantized log-likelihood ratio per token, integer sums.
    // Positive docs read more like the target than the average.
    Q("q85_dsir_weights", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tc = graft.quality.LmScore.unigramCounts(docs.filter(col("lang") === "de"), "text")
      val rc = graft.quality.LmScore.unigramCounts(docs, "text")
      graft.quality.LmScore.importanceBits(docs, "text", "doc_id", tc, rc)
        .orderBy("doc_id")
    }),
      // DSIR quantized log-likelihood ratio: two count CTEs (target 'de'
      // slice, raw corpus), per-token bits difference, integer sums;
      // unseen-in-target tokens take cnt 1 (bits 0) via the left join
      oracle =
        """WITH w AS (
          |  SELECT doc_id, lang,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS word
          |  FROM documents),
          |ct AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w WHERE lang = 'de' GROUP BY 1),
          |cr AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
          |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM ct),
          |tr AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cr),
          |s AS (SELECT w.doc_id,
          |        (CAST(length(format('{:b}', coalesce(ct.cnt, 1))) - 1 AS BIGINT)
          |         - CAST(length(format('{:b}', (SELECT total FROM tt))) - 1 AS BIGINT))
          |        - (CAST(length(format('{:b}', coalesce(cr.cnt, 1))) - 1 AS BIGINT)
          |           - CAST(length(format('{:b}', (SELECT total FROM tr))) - 1 AS BIGINT)) AS b
          |      FROM w LEFT JOIN ct ON w.word = ct.word
          |             LEFT JOIN cr ON w.word = cr.word),
          |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |        CAST(sum(b) AS BIGINT) AS sum_bits_diff
          |      FROM s GROUP BY 1)
          |SELECT d.doc_id AS doc_id,
          |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
          |  CAST(coalesce(a.sum_bits_diff, 0) AS BIGINT) AS sum_bits_diff,
          |  CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
          |    ELSE CAST(a.sum_bits_diff AS DOUBLE) / CAST(a.n_tokens AS DOUBLE)
          |    END AS DOUBLE) AS mean_bits_diff
          |FROM (SELECT doc_id FROM documents) d
          |LEFT JOIN a ON d.doc_id = a.doc_id
          |ORDER BY d.doc_id""".stripMargin),

    // within-doc duplicate-6-gram char coverage (interval UNION over the
    // space-joined token text). Planted: %3==1 gets a 6-word phrase twice
    // (disjoint spans), %9==4 gets "zz" x8 (three overlapping occurrences
    // of the same 6-gram — the union must not double-count).
    Q("q82_dup_ngram", ((s, dir) => {
      val phrase = " qq ww ee rr tt yy"
      val p1 = when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(phrase), lit(phrase))).otherwise(col("text"))
      val p2 = when(col("doc_id") % 9 === 4,
        concat(p1, lit(" zz zz zz zz zz zz zz zz"))).otherwise(p1)
      val docs = t(s, dir, "documents").select(col("doc_id"), p2.as("t2"))
      graft.quality.Repetition.dupNgramCharStats(docs, "t2", "doc_id", n = 6)
        .orderBy("doc_id")
    }),
      // within-doc dup-6-gram char coverage: every window restated —
      // (id,pos) offsets + leads, (id,gram) counts, running-max interval
      // union ordered by start
      oracle =
        """WITH inj AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 9 = 4 THEN p1 || ' zz zz zz zz zz zz zz zz' ELSE p1 END AS t2
          |  FROM (SELECT doc_id,
          |          CASE WHEN doc_id % 3 = 1
          |            THEN text || ' qq ww ee rr tt yy' || ' qq ww ee rr tt yy'
          |            ELSE text END AS p1
          |        FROM documents)),
          |b AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(lower(t2), '\s+'), x -> x <> '') AS ws
          |      FROM inj),
          |base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
          |        CAST(CASE WHEN len(ws) = 0 THEN 0
          |          ELSE list_sum(list_transform(ws, w -> len(w))) + len(ws) - 1
          |          END AS BIGINT) AS n_join_chars, ws
          |      FROM b),
          |tok AS (SELECT doc_id,
          |        unnest(generate_series(1, len(ws))) - 1 AS pos,
          |        unnest(ws) AS w
          |      FROM base WHERE n_words >= 6),
          |off AS (SELECT doc_id, pos, w, CAST(len(w) AS BIGINT) AS l,
          |        CAST(coalesce(sum(len(w) + 1) OVER (PARTITION BY doc_id ORDER BY pos
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
          |      FROM tok),
          |g AS (SELECT doc_id, s,
          |        w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
          |          || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win
          |          || ' ' || lead(w, 5) OVER win AS gram,
          |        lead(s, 5) OVER win + lead(l, 5) OVER win AS e,
          |        lead(w, 5) OVER win AS w5
          |      FROM off WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
          |d AS (SELECT doc_id, s, e FROM (
          |        SELECT doc_id, s, e, count(*) OVER (PARTITION BY doc_id, gram) AS cnt
          |        FROM g WHERE w5 IS NOT NULL)
          |      WHERE cnt >= 2),
          |u AS (SELECT doc_id, greatest(0, e - greatest(s,
          |        coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS cov
          |      FROM d),
          |cv AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS dup_chars FROM u GROUP BY 1)
          |SELECT base.doc_id AS doc_id, base.n_words, base.n_join_chars,
          |  CAST(coalesce(cv.dup_chars, 0) AS BIGINT) AS dup_chars,
          |  CAST(CASE WHEN base.n_join_chars = 0 THEN 0.0
          |    ELSE CAST(coalesce(cv.dup_chars, 0) AS DOUBLE) / CAST(base.n_join_chars AS DOUBLE)
          |    END AS DOUBLE) AS dup_ngram_char_frac
          |FROM base LEFT JOIN cv ON base.doc_id = cv.doc_id
          |ORDER BY base.doc_id""".stripMargin),

    // Unicode NFC normalization via the native codegen'd expression:
    // decomposed accents (e+U+0301, A+U+030A) planted on %6==1 compose
    // to single code points; already-NFC rows pass the zero-allocation
    // fast path untouched. DuckDB's nfc_normalize is the oracle.
    Q("q94_nfc_normalize", ((s, dir) => {
      // DECOMPOSED planting (combining acute/ring/diaeresis escapes) --
      // composed literals would make normalization a no-op, gate vacuous
      val planted = when(col("doc_id") % 6 === 1,
        concat(col("text"), lit(" cafe\u0301 A\u030Angstro\u0308m")))
        .otherwise(col("text"))
      t(s, dir, "documents").select(col("doc_id"), planted.as("t2"))
        .select(col("doc_id"),
          length(col("t2")).as("n_before"),
          length(graft.plans.GraftFunctions.nfcNormalize(col("t2"))).as("n_after"),
          md5(graft.plans.GraftFunctions.nfcNormalize(col("t2"))).as("norm_md5"))
        .orderBy("doc_id")
    }),
      // NFC normalization: identical decomposed planting via chr()
      // (U+0301/U+030A/U+0308 combining marks), DuckDB's nfc_normalize
      // as the reference kernel, md5 byte parity on the composed text
      oracle =
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 6 = 1
          |      THEN text || ' cafe' || chr(769) || ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
          |      ELSE text END AS t2
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(length(t2) AS INTEGER) AS n_before,
          |  CAST(length(nfc_normalize(t2)) AS INTEGER) AS n_after,
          |  md5(nfc_normalize(t2)) AS norm_md5
          |FROM p ORDER BY doc_id""".stripMargin),

    // LANGUAGE-CONDITIONAL stopword gate: %5==2 docs get three of their
    // OWN language's stopwords (hits >= 3 -> keep), %5==4 docs get
    // ENGLISH stopwords regardless of language — only en docs earn
    // credit, demonstrating the monolingual-filter bug the operator
    // exists to avoid.
    Q("q97_multilingual_stopwords", ((s, dir) => {
      val own = when(col("lang") === "en", lit(" the of and"))
        .when(col("lang") === "de", lit(" der die und"))
        .when(col("lang") === "fr", lit(" le la et"))
        .when(col("lang") === "es", lit(" el la de"))
        .when(col("lang") === "zh", lit(" 的 了 是"))
        .otherwise(lit(""))
      val p1 = when(col("doc_id") % 5 === 2, concat(col("text"), own))
        .otherwise(col("text"))
      val p2 = when(col("doc_id") % 5 === 4, concat(p1, lit(" the of and")))
        .otherwise(p1)
      t(s, dir, "documents").select(col("doc_id"), col("lang"), p2.as("t2"))
        .select(col("doc_id"), col("lang"),
          graft.quality.GopherRules.stopwordHitsFor(col("t2"), col("lang"))
            .as("stopword_hits"))
        .withColumn("keep", (col("stopword_hits") >= 2).cast("int"))
        .orderBy("doc_id")
    }),
      // language-conditional stopword hits: identical planting, one CASE
      // over the per-lang tables, distinct lowered words both sides
      oracle =
        """WITH p AS (
          |  SELECT doc_id, lang,
          |    CASE WHEN doc_id % 5 = 4 THEN p1 || ' the of and' ELSE p1 END AS t2
          |  FROM (SELECT doc_id, lang,
          |          CASE WHEN doc_id % 5 = 2 THEN text ||
          |            CASE lang WHEN 'en' THEN ' the of and'
          |              WHEN 'de' THEN ' der die und'
          |              WHEN 'fr' THEN ' le la et'
          |              WHEN 'es' THEN ' el la de'
          |              WHEN 'zh' THEN ' 的 了 是' ELSE '' END
          |          ELSE text END AS p1
          |        FROM documents)),
          |w AS (SELECT doc_id, lang,
          |    list_distinct(list_transform(
          |      list_filter(regexp_split_to_array(t2, '\s+'), x -> x <> ''),
          |      x -> lower(x))) AS ws
          |  FROM p),
          |h AS (SELECT doc_id, lang,
          |    CAST(CASE lang
          |      WHEN 'de' THEN len(list_intersect(ws, ['der','die','das','und','ist','von','mit','nicht']))
          |      WHEN 'en' THEN len(list_intersect(ws, ['the','be','to','of','and','that','have','with']))
          |      WHEN 'es' THEN len(list_intersect(ws, ['el','la','de','que','y','los','con','para']))
          |      WHEN 'fr' THEN len(list_intersect(ws, ['le','la','et','les','des','que','pour','dans']))
          |      WHEN 'zh' THEN len(list_intersect(ws, ['的','了','是','在','我','有','和','不']))
          |      ELSE 0 END AS BIGINT) AS stopword_hits
          |  FROM w)
          |SELECT doc_id, lang, stopword_hits,
          |  CAST(stopword_hits >= 2 AS INTEGER) AS keep
          |FROM h ORDER BY doc_id""".stripMargin),
  )
}
