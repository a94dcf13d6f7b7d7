package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import Shared._

/** Language-ID, feature and training queries: substring and named-feature
  * extraction, the linear and n-gram language-ID models, F1 tables, snippet
  * ETL and BPE tokens. */
object LangIdQueries {

  /** SQL restatement of ReferenceFeatures.fullModel scoring. Exact because
    * every logit is a dyadic rational (see ReferenceFeatures.fullModel):
    * 2.0*h_c - 0.125*(H - h_c) == 2.125*h_c - 0.125*H with h_c = hits in
    * class c's token list, H = total distinct-feature hits. */
  private def fullModelOracleSql: String = {
    val rf = graft.model.ReferenceFeatures
    def esc(s: String) = s.replace("'", "''")
    // flat list literal + list_filter, NOT a 746-term "+" chain: DuckDB's
    // binder recurses per binary op and caps at depth 128
    def hits(toks: Array[String]) =
      s"CAST(len(list_filter([${toks.map(t => s"'${esc(t)}'").mkString(",")}], t -> contains(text, t))) AS INTEGER)"
    val nf = hits(rf.tokens)
    val n = rf.langs.length
    val hitCols = rf.langs.zipWithIndex.map { case (lang, i) =>
      s"${hits(rf.byLang(lang).distinct)} AS h$i"
    }.mkString(", ")
    val scoreCols = (0 until n)
      .map(i => s"(2.125 * h$i - 0.125 * n_feats) AS s$i").mkString(", ")
    val argmax = (0 until n).map { i =>
      if (i == n - 1) s"ELSE '${rf.langs(i)}'"
      else s"WHEN ${((i + 1) until n).map(j => s"s$i >= s$j").mkString(" AND ")} THEN '${rf.langs(i)}'"
    }.mkString(" ")
    s"""WITH nd AS (SELECT doc_id, regexp_replace(text, '\r\n?', chr(10), 'g') AS text
       |             FROM documents),
       |b AS (SELECT doc_id, $nf AS n_feats, $hitCols FROM nd),
       |sc AS (SELECT doc_id, n_feats, $scoreCols FROM b)
       |SELECT doc_id, CASE $argmax END AS pred, n_feats
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Rotating language-flavored headers for q43: deterministic per doc_id,
    * chosen so every legacy feature family (python/c/go/php/sql/diff/make/
    * rust/yaml+md/perl/vb/r) fires on some rows. */
  private val legacySnippets: Array[String] = Array(
    "from pkg import thing as t\n@decorator\ndef f(x):\n    return f'{x}'\n" +
      "g = lambda self: None\nok = True or False\n'''doc''' \"\"\"doc\"\"\"\n" +
      "def g(*args, **kwargs): pass\n",
    "#include <iostream>\n#include <stdio.h>\ntemplate <typename T>\n" +
      "int main() {\n    char c; std::string s;\n    printf(\"%d\");\n" +
      "    scanf(\"%d\");\n    return 0;\n}\n/*# odd */\n",
    "package main\nimport (\nfunc f() {\n\tx := <-ch\n\tvar c chan int\n" +
      "\tdefer close(c)\n\tgo run()\n}\n",
    "<?php\n$this->x = $y;\nnamespace A;\nuse B;\necho $x;\n" +
      "function f(&$a) { $b = ($c); }\n",
    "SELECT * FROM t WHERE x = 1;\nINSERT INTO tbl VALUES (1);\n" +
      "CREATE TABLE t2 (a INT);\n",
    "diff --git a/x b/x\n@@ -1 +1 @@\n+++ b/x\n--- a/x\n",
    "target: dep\n\t$(shell echo hi)\n.PHONY: all\nVAR := 1\nKEY ?= x\n" +
      "[section]\n; ini comment\nk = v\n",
    "fn main() -> i32 {\n    let mut x = 0;\n    macro_rules! m\n" +
      "    match x {}\n    use std::fmt;\n    #[derive(Debug)]\n}\n",
    "- item\n---\nkey: value\n# heading\n```\n[link](url)\n> quote\n" +
      "1. ordered\n====\n* starred\n...\n",
    "my $x = 1;\nuse strict;\nuse warnings;\ns/foo/bar/;\nprint @ARGV;\n",
    "Imports System\nModule M\nSub F()\nEnd Sub\nDim x As Integer\n",
    "library(x)\ndf <- data.frame(a=1)\nggplot(df)\nset.seed(42)\nx = TRUE\n",
    "export const f = async (x) => {\n  let y = await g(x);\n" +
      "  interface I { readonly a: string }\n  enum E {}\n  type T = number;\n" +
      "  class C implements I {}\n  this.x += 1;\n};\n" +
      "import { a } from 'mod';\nimport * as ns from \"m\";\n",
    "$var-name: 10px;\n@mixin foo { color: red; }\n@include foo;\n" +
      "@extend .bar;\nwidth: #{interp};\n&.nested { }\n@less-var: 2;\n" +
      "@{lessinterp}\n@import (css) 'x';\n.mixin-call ( );\nx when (y)\n",
    "#!/bin/bash\nexport PATH=/x\nif [ -f x ]; then\n  run_thing\nfi\n" +
      "for i in 1; do\n  echo $i\ndone\nif test -z y; then fi\n",
    "<?xml version=\"1.0\"?>\n<a xmlns=\"ns\">\n{ \"key\": 1 }\n" +
      "query Q { ... on T { id } }\nmutation M\nfragment F\nlocal x = 1\n" +
      "if x then y elseif z end\na .. b\nputs 'hi'\nrequire 'mod'\nmodule Foo\nend\n",
    "public class A extends B {\n  private static void m() { var x = new C(); }\n" +
      "  protected boolean ok; String s; byte b; bytes raw;\n" +
      "  List<? extends T> l; int n = strlen(s);\n" +
      "  cstring cs; bool b2; str st;\n  import 'quoted'\n" +
      "  case x .+ y : default z\n}\n",
  )

  /** SQL restatement of one legacy feature over column t2. */
  private def legacyFeatureSql(f: graft.functions.LegacyFeatures.Feat): String = {
    import graft.functions.LegacyFeatures._
    def sqlEsc(s: String) = s.replace("'", "''")
    def reQuote(s: String) = s.flatMap { c =>
      if ("\\^$.|?*+()[]{}".indexOf(c) >= 0) s"\\$c" else c.toString
    }
    def wordRe(tok: String) = s"(^|[^A-Za-z0-9_])${reQuote(tok)}([^A-Za-z0-9_]|$$)"
    f match {
      // NB: multiline anchoring must be the inline RE2 flag (?m) — DuckDB's
      // third-argument options do not enable it (measured)
      case Word(t)   => s"regexp_matches(t2, '${sqlEsc(wordRe(t))}')"
      case WordCi(t) =>
        s"regexp_matches(lower(t2), '${sqlEsc(wordRe(t.toLowerCase(java.util.Locale.ROOT)))}')"
      case Sym(t)    => s"contains(t2, '${sqlEsc(t)}')"
      case Re(p)     => s"regexp_matches(t2, '(?m)${sqlEsc(p)}')"
      case LineStart(p) => s"regexp_matches(t2, '(?m)${sqlEsc("^\\s*" + reQuote(p))}')"
      case Indent(n) => s"regexp_matches(t2, '(?m)^[ ]{$n}.*\\S')"
      case IndentColonF =>
        // rtrim over the full whitespace set (space/tab/VT/FF/CR), matching
        // Character.isWhitespace on ASCII — plain rtrim strips spaces only
        """len(list_filter(string_split(t2, chr(10)),
          | x -> length(rtrim(split_part(x, '#', 1), ' ' || chr(9) || chr(11) || chr(12) || chr(13))) > 0
          |      AND ends_with(rtrim(split_part(x, '#', 1), ' ' || chr(9) || chr(11) || chr(12) || chr(13)), ':'))) > 0""".stripMargin
      case FStringF   => """regexp_matches(t2, '(^|[^A-Za-z0-9_])f[''"]')"""
      case DollarVarF => """regexp_matches(t2, '\$[A-Za-z_]')"""
      case And(a, b)  => s"(${legacyFeatureSql(a)} AND ${legacyFeatureSql(b)})"
      case Or(a, b)   => s"(${legacyFeatureSql(a)} OR ${legacyFeatureSql(b)})"
    }
  }

  private def legacyFeaturesOracleSql: String = {
    def sqlEsc(s: String) = s.replace("'", "''")
    val cases = legacySnippets.zipWithIndex.map { case (sn, i) =>
      s"WHEN $i THEN '${sqlEsc(sn)}' || text"
    }.mkString(" ")
    val cols = graft.functions.LegacyFeatures.all.map { case (name, feat) =>
      s"""${legacyFeatureSql(feat)} AS "$name""""
    }.mkString(",\n ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    regexp_replace(CASE CAST(doc_id % ${legacySnippets.length} AS INTEGER) $cases END,
       |      '\r\n?', chr(10), 'g') AS t2
       |  FROM documents)
       |SELECT doc_id,
       | $cols
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** q92's deterministic sf0.01 output pinned as a literal table (the
    * BPE merge loop is a driver-side iterative algorithm no SQL restates;
    * trainer/encoder goldens live in BpeSpec). */
  private def q92LiteralOracleSql: String = {
    val rows =
      "('de',70,9788),('en',218,33206),('es',73,11161),('fr',64,10435),('zh',75,11619)"
    s"""SELECT CAST(lang AS VARCHAR) AS lang, CAST(n AS BIGINT) AS n,
       | CAST(bpe_tokens AS BIGINT) AS bpe_tokens
       |FROM (VALUES $rows) AS t(lang, n, bpe_tokens)
       |ORDER BY lang""".stripMargin
  }

  /** Exact ANSI-SQL restatement of the tiny linear scorer: same summation
    * order (intercept + c0*b0 + c1*b1 + ...) so logits are bit-identical,
    * argmax ties resolved first-class-wins like Scorer.argmax. */
  private def tinyModelOracleSql: String = {
    val m = graft.model.DefaultModels.tiny
    def esc(s: String) = s.replace("'", "''")
    val score = m.classes.indices.map { i =>
      val terms = m.features.indices.map { j =>
        s"${m.coef(i)(j)} * (CASE WHEN contains(text, '${esc(m.features(j))}') THEN 1.0 ELSE 0.0 END)"
      }.mkString(" + ")
      s"(${m.intercept(i)} + $terms) AS s$i"
    }.mkString(", ")
    s"""WITH sc AS (SELECT doc_id, $score FROM documents)
       |SELECT doc_id,
       |  CASE WHEN s0 >= s1 AND s0 >= s2 THEN '${m.classes(0)}'
       |       WHEN s1 >= s2 THEN '${m.classes(1)}'
       |       ELSE '${m.classes(2)}' END AS pred
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    // REAL BPE tokenizer end-to-end: 50 merge rules trained on the
    // corpus's own word-frequency table (bounded collect — the
    // published trainer shape), broadcast ranks, per-lang token totals.
    // Deterministic tie-breaks make the merge table byte-stable, so the
    // output pins as a literal oracle (sf-pinned: merges depend on the
    // corpus); trainer/encoder semantics are golden-gated in BpeSpec.
    Q("q92_bpe_tokens", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.train.Bpe.train(
        graft.train.Bpe.wordFreqs(docs, "text", maxWords = 100000), numMerges = 50)
      graft.train.Bpe.withTokenCounts(docs, "text", merges)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("bpe_tokens").as("bpe_tokens"))
        .orderBy("lang")
    }),
      oracle = q92LiteralOracleSql,
      pin = Some("sf0.01")),

    // X1 substring feature bits via the broadcast Aho-Corasick matcher
    Q("q23_feature_bits", ((s, dir) => {
      val toks = Array("the", "and", "data", "query", "spark")
      val bc = s.sparkContext.broadcast(graft.text.TokenMatcher(toks))
      val bitsUdf = udf((text: String) => bc.value.matchBits(text))
      t(s, dir, "documents")
        .withColumn("bits", bitsUdf(col("text")))
        .select(col("doc_id") +: toks.zipWithIndex.map { case (tk, i) =>
          col("bits").getItem(i).as(s"has_$tk")
        }: _*)
        .orderBy("doc_id")
    }),
      oracle =
        """SELECT doc_id, contains(text, 'the') AS has_the, contains(text, 'and') AS has_and,
          | contains(text, 'data') AS has_data, contains(text, 'query') AS has_query,
          | contains(text, 'spark') AS has_spark
          |FROM documents ORDER BY doc_id""".stripMargin),

    // P1+P3 linear scoring with the built-in tiny model (exact SQL oracle)
    Q("q24_langid_tiny", ((s, dir) => {
      val bc = s.sparkContext.broadcast(new graft.score.Scorer(graft.model.DefaultModels.tiny))
      val predUdf = udf((text: String) => bc.value.predictLabel(text))
      t(s, dir, "documents").select(col("doc_id"), predUdf(col("text")).as("pred"))
        .orderBy("doc_id")
    }),
      oracle = tinyModelOracleSql),

    // A5 per-class F1 table (deterministically corrupted predictions)
    Q("q27_macro_f1", ((s, dir) => {
      val preds = t(s, dir, "documents").select(
        col("lang").as("label"),
        when(md5Bucket(col("doc_id"), 10) === 0, lit("en")).otherwise(col("lang")).as("pred"))
      graft.eval.F1.perClass(preds, "label", "pred").orderBy("cls")
    }),
      oracle = {
        val bucket10 =
          "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10)"
        s"""WITH p AS (
           |  SELECT lang AS label,
           |    CASE WHEN $bucket10 = 0 THEN 'en' ELSE lang END AS pred
           |  FROM documents),
           |cl AS (SELECT DISTINCT label AS cls FROM p UNION SELECT DISTINCT pred FROM p),
           |tpt AS (SELECT label AS cls, count(*) AS tp FROM p WHERE label = pred GROUP BY 1),
           |fpt AS (SELECT pred AS cls, count(*) AS fp FROM p WHERE label <> pred GROUP BY 1),
           |fnt AS (SELECT label AS cls, count(*) AS fn FROM p WHERE label <> pred GROUP BY 1)
           |SELECT cl.cls, coalesce(tp, 0) AS tp, coalesce(fp, 0) AS fp, coalesce(fn, 0) AS fn,
           | CASE WHEN coalesce(tp,0)*2 + coalesce(fp,0) + coalesce(fn,0) = 0 THEN 0.0
           |  ELSE coalesce(tp,0) * 2.0 / (coalesce(tp,0)*2 + coalesce(fp,0) + coalesce(fn,0)) END AS f1
           |FROM cl LEFT JOIN tpt USING (cls) LEFT JOIN fpt USING (cls) LEFT JOIN fnt USING (cls)
           |ORDER BY cls""".stripMargin
      }),

    // Metric STABILITY table: per-class F1 over 25 deterministic
    // md5-selected half-subsamples of q27's corrupted predictions — the
    // resampled confidence band an eval scorecard carries; no RNG, so
    // the whole table is oracle-exact.
    Q("q93_f1_stability", ((s, dir) => {
      val preds = t(s, dir, "documents").select(
        col("doc_id"),
        col("lang").as("label"),
        when(md5Bucket(col("doc_id"), 10) === 0, lit("en")).otherwise(col("lang")).as("pred"))
      graft.eval.F1.resampledPerClass(preds, "label", "pred", col("doc_id"),
          nResamples = 25)
        .orderBy("b", "cls")
    }),
      // q27's confusion arithmetic with an extra resample key: b-exploded
      // rows, md5(key#b) half-subsample, per-(b, cls) counts, one
      // division — left-assoc double arithmetic mirrors eval/F1.scala
      oracle = {
        val bucket10 =
          "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10)"
        val sel = "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || " +
          "CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 2)"
        s"""WITH p AS (
           |  SELECT doc_id, lang AS label,
           |    CASE WHEN $bucket10 = 0 THEN 'en' ELSE lang END AS pred
           |  FROM documents),
           |e AS (SELECT p.*, b FROM p
           |      CROSS JOIN (SELECT unnest(generate_series(0, 24)) AS b)),
           |s AS (SELECT * FROM e WHERE $sel = 0),
           |cl AS (SELECT DISTINCT b, label AS cls FROM s
           |       UNION SELECT DISTINCT b, pred FROM s),
           |tpt AS (SELECT b, label AS cls, count(*) AS tp FROM s WHERE label = pred GROUP BY 1, 2),
           |fpt AS (SELECT b, pred AS cls, count(*) AS fp FROM s WHERE label <> pred GROUP BY 1, 2),
           |fnt AS (SELECT b, label AS cls, count(*) AS fn FROM s WHERE label <> pred GROUP BY 1, 2)
           |SELECT cl.b AS b, cl.cls AS cls,
           |  CAST(coalesce(tp, 0) AS BIGINT) AS tp,
           |  CAST(coalesce(fp, 0) AS BIGINT) AS fp,
           |  CAST(coalesce(fn, 0) AS BIGINT) AS fn,
           |  CAST(CASE WHEN coalesce(tp, 0) * 2 + coalesce(fp, 0) + coalesce(fn, 0) = 0 THEN 0.0
           |    ELSE 2.0 * coalesce(tp, 0) / (2.0 * coalesce(tp, 0) + coalesce(fp, 0) + coalesce(fn, 0))
           |    END AS DOUBLE) AS f1
           |FROM cl LEFT JOIN tpt ON cl.b = tpt.b AND cl.cls = tpt.cls
           |        LEFT JOIN fpt ON cl.b = fpt.b AND cl.cls = fpt.cls
           |        LEFT JOIN fnt ON cl.b = fnt.b AND cl.cls = fnt.cls
           |ORDER BY b, cls""".stripMargin
      }),

    // G1-G4+F2 corpus ETL over documents-as-files (scrub+split+junk filter)
    Q("q29_snippet_etl", ((s, dir) => {
      import s.implicits._
      val langs = Array("Markdown", "SQL", "Python", "HTML")
      // word-soup documents have no punctuation and would all fail the
      // PunctRatio>=0.01 junk rule; comma-join words so chunks are viable
      val files = t(s, dir, "documents")
        .select(col("doc_id"), regexp_replace(col("text"), " ", ", ").as("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          graft.etl.SourceFile(id.toString, langs((id % 4).toInt), text)
        }
      graft.etl.SnippetEtl.run(s, files, limit = 5, rebalance = false)
        .groupBy("Language").agg(count(lit(1)).as("n_chunks"))
        .orderBy("Language")
    }),
      // snippet ETL restated in SQL: same chunk assignment (close chunk at
      // every 5th non-blank line, merge trailing partial into the previous
      // chunk) and the same 8-condition junk rule over each chunk's text.
      // Scrub is identity on this comma-joined word-soup input.
      oracle =
        """WITH f AS (
          |  SELECT doc_id,
          |    CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'Markdown' WHEN 1 THEN 'SQL'
          |         WHEN 2 THEN 'Python' ELSE 'HTML' END AS Language,
          |    string_split(replace(text, ' ', ', '), chr(10)) AS ls
          |  FROM documents),
          |l AS (
          |  SELECT doc_id, Language,
          |    unnest(list_transform(generate_series(1, len(ls)),
          |      j -> {'i': j, 'line': ls[j]})) AS u
          |  FROM f),
          |c AS (
          |  SELECT doc_id, Language, u.i AS i, u.line AS line,
          |    coalesce(sum(CASE WHEN trim(u.line) <> '' THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY doc_id ORDER BY u.i
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 5 AS chunk
          |  FROM l),
          |m AS (SELECT doc_id, max(chunk) + 1 AS nchunks FROM c GROUP BY 1),
          |g AS (
          |  SELECT c.doc_id, c.Language,
          |    CASE WHEN m.nchunks >= 2 THEN least(c.chunk, m.nchunks - 2) ELSE c.chunk END AS mchunk,
          |    string_agg(c.line, chr(10) ORDER BY c.i) AS ct
          |  FROM c JOIN m USING (doc_id)
          |  GROUP BY 1, 2, 3),
          |k AS (
          |  SELECT Language, ct,
          |   (length(ct) - length(regexp_replace(ct, '[A-Za-z]', '', 'g'))) AS lt,
          |   (length(ct) - length(regexp_replace(ct, '[0-9]', '', 'g'))) AS dg,
          |   (length(ct) - length(regexp_replace(ct, '[\s]', '', 'g'))) AS ws
          |  FROM g)
          |SELECT Language, count(*) AS n_chunks FROM k
          |WHERE NOT (
          |  length(ct) < 75 OR length(ct) > 50000
          |  OR len(string_split(ct, chr(10))) > 100
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE lt / CAST(length(ct) AS DOUBLE) END) < 0.01
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE lt / CAST(length(ct) AS DOUBLE) END) > 0.9
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE (length(ct) - lt - dg - ws) / CAST(length(ct) AS DOUBLE) END) < 0.01
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE (length(ct) - lt - dg - ws) / CAST(length(ct) AS DOUBLE) END) > 0.4
          |  OR (CASE WHEN length(ct)=0 THEN 0.0 ELSE dg / CAST(length(ct) AS DOUBLE) END) > 0.5)
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // A2 feature-occurrence rates via the native MultiContains expression
    // (codegen'd single-pass matcher, SQL-oracle-checked)
    Q("q31_feature_occurrence", ((s, dir) => {
      val bits = graft.plans.GraftFunctions.multiContains(col("text"),
        Seq("the", "data", "query"))
      t(s, dir, "documents")
        .withColumn("b", bits)
        .groupBy("lang")
        .agg(
          sum(col("b").getItem(0).cast("long")).as("n_the"),
          sum(col("b").getItem(1).cast("long")).as("n_data"),
          sum(col("b").getItem(2).cast("long")).as("n_query"),
          count(lit(1)).as("n_samples"))
        .orderBy("lang")
    }),
      oracle =
        """SELECT lang,
          | CAST(sum(CASE WHEN contains(text, 'the') THEN 1 ELSE 0 END) AS BIGINT) AS n_the,
          | CAST(sum(CASE WHEN contains(text, 'data') THEN 1 ELSE 0 END) AS BIGINT) AS n_data,
          | CAST(sum(CASE WHEN contains(text, 'query') THEN 1 ELSE 0 END) AS BIGINT) AS n_query,
          | count(*) AS n_samples
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // G1 as a native Generator: split_snippets explodes files into chunks
    Q("q32_split_generator", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.plans.GraftFunctions.splitSnippets(col("text"), 3))
        .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .orderBy("doc_id")),
      oracle =
        // chunk count from the split semantics: full chunks close at every
        // limit-th non-blank line; a trailing partial (last line of these
        // docs is non-blank, no trailing blank lines) exists iff E%3>0;
        // the splitter then merges the last chunk into the previous one.
        """WITH e AS (
          |  SELECT doc_id,
          |    len(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')) AS ne
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(CASE WHEN (ne // 3 + CASE WHEN ne % 3 > 0 THEN 1 ELSE 0 END) >= 2
          |       THEN (ne // 3 + CASE WHEN ne % 3 > 0 THEN 1 ELSE 0 END) - 1
          |       ELSE 1 END AS BIGINT) AS n_chunks
          |FROM e ORDER BY doc_id""".stripMargin),

    // X3/X4 structural predicates as Column expressions
    Q("q33_structural", ((s, dir) => {
      import graft.functions.StructuralPredicates._
      t(s, dir, "documents").select(
        col("doc_id"),
        hasDollarVarCol(col("text")).as("has_dollar"),
        hasPythonFStringCol(col("text")).as("has_fstring"),
        hasLineStartingWithCol(col("text"), "agg").as("line_agg"))
        .orderBy("doc_id")
    }),
      oracle =
        """SELECT doc_id,
          | regexp_matches(text, '\$[A-Za-z_]') AS has_dollar,
          | regexp_matches(text, '(^|[^A-Za-z0-9_])f[''"]') AS has_fstring,
          | (len(list_filter(string_split(text, chr(10)),
          |    x -> starts_with(ltrim(x), 'agg'))) > 0) AS line_agg
          |FROM documents ORDER BY doc_id""".stripMargin),

    // X1 at REFERENCE scale: the full 746-token / 32-class substring model
    // (reference feature corpus, ReferenceFeatures.fullModel). One
    // broadcast Aho–Corasick pass per row extracts all 746 presence bits;
    // the linear scorer's exact-dyadic weights make the prediction
    // SQL-replicable at full size (no subset shortcuts).
    Q("q39_full_model", ((s, dir) => {
      val bc = s.sparkContext.broadcast(
        new graft.score.Scorer(graft.model.ReferenceFeatures.fullModel))
      val predUdf = udf { (text: String) =>
        val sc = bc.value
        val bits = sc.extractBits(text)
        var n = 0; var i = 0
        while (i < bits.length) { if (bits(i)) n += 1; i += 1 }
        (sc.model.classes(sc.argmax(sc.logits(bits))), n)
      }
      t(s, dir, "documents")
        .withColumn("p", predUdf(col("text")))
        .select(col("doc_id"), col("p._1").as("pred"), col("p._2").as("n_feats"))
        .orderBy("doc_id")
    }),
      // the FULL 746-token model restated in SQL (~2000 contains() terms,
      // generated): logit_c = 2.125*hits_c - 0.125*total_hits exactly (all
      // dyadic), argmax with first-class-wins ties like Scorer.argmax.
      oracle = fullModelOracleSql),

    // X2+X4: legacy named-feature battery (predict_language.js families):
    // word-boundary features via the broadcast matcher (matchWordBits),
    // the import-shape multiline regexes, a combined feature
    // (HasFromImport = word(from) AND word(import), js:166), and line
    // predicates — over deterministically structure-injected text so both
    // branches of every predicate occur.
    Q("q41_named_features", ((s, dir) => {
      import graft.functions.StructuralPredicates._
      val words = Array("table", "scan", "from", "import", "the")
      val bc = s.sparkContext.broadcast(graft.text.TokenMatcher(words))
      val wordBits = udf((text: String) => bc.value.matchWordBits(text))
      val injected =
        when(col("doc_id") % 5 === 0, concat(lit("from pkg import thing\n"), col("text")))
          .when(col("doc_id") % 5 === 1, concat(lit("import * as ns\n"), col("text")))
          .when(col("doc_id") % 5 === 2, concat(lit("    indented: # c\n"), col("text")))
          .when(col("doc_id") % 5 === 3, concat(lit("import 'mod'\n"), col("text")))
          .otherwise(col("text"))
      t(s, dir, "documents")
        // CR/CRLF -> LF before ANY feature family (the reference's own
        // pre-step, features.py:98): Java regex/trim and DuckDB RE2/rtrim
        // disagree about \r, so neither side may ever see one
        .withColumn("t2", regexp_replace(injected, "\\r\\n?", "\n"))
        .withColumn("wb", wordBits(col("t2")))
        .select(
          col("doc_id"),
          col("wb").getItem(0).as("w_table"),
          col("wb").getItem(1).as("w_scan"),
          (col("wb").getItem(2) && col("wb").getItem(3)).as("has_from_import"),
          hasFromImportOrderCol(col("t2")).as("re_from_import"),
          hasImportStarAsCol(col("t2")).as("re_import_star_as"),
          hasImportQuoteLineCol(col("t2")).as("re_import_quote"),
          hasIndentColonsCol(col("t2")).as("indent_colon"),
          hasLeadingIndentCol(col("t2"), 4).as("indent4"))
        .orderBy("doc_id")
    }),
      // named-feature battery: word-boundary features as leftmost-scan
      // regexes (equivalent to hasWordIn's any-unflanked-occurrence loop),
      // import regexes with RE2's 'm' flag, line predicates as
      // list_filter over split lines.
      oracle = {
        def w(word: String) =
          s"regexp_matches(t2, '(^|[^A-Za-z0-9_])$word([^A-Za-z0-9_]|$$)')"
        s"""WITH f AS (
           |  SELECT doc_id,
           |    regexp_replace(CASE CAST(doc_id % 5 AS INTEGER)
           |      WHEN 0 THEN 'from pkg import thing' || chr(10) || text
           |      WHEN 1 THEN 'import * as ns' || chr(10) || text
           |      WHEN 2 THEN '    indented: # c' || chr(10) || text
           |      WHEN 3 THEN 'import ''mod''' || chr(10) || text
           |      ELSE text END, '\r\n?', chr(10), 'g') AS t2
           |  FROM documents)
           |SELECT doc_id,
           |  ${w("table")} AS w_table,
           |  ${w("scan")} AS w_scan,
           |  (${w("from")} AND ${w("import")}) AS has_from_import,
           |  regexp_matches(t2, '(?m)^\\s*from\\s+\\S+\\s+import\\b') AS re_from_import,
           |  regexp_matches(t2, '(?m)^\\s*import\\s+\\*\\s+as\\s+') AS re_import_star_as,
           |  regexp_matches(t2, '(?m)^\\s*import\\s+[''"]') AS re_import_quote,
           |  len(list_filter(string_split(t2, chr(10)),
           |    x -> length(rtrim(split_part(x, '#', 1))) > 0
           |         AND ends_with(rtrim(split_part(x, '#', 1)), ':'))) > 0 AS indent_colon,
           |  len(list_filter(string_split(t2, chr(10)),
           |    x -> trim(x) <> '' AND starts_with(x, '    '))) > 0 AS indent4
           |FROM f ORDER BY doc_id""".stripMargin
      }),

    // the COMPLETE legacy named-feature catalog (~185 features,
    // predict_language.js:120-306) as one broadcast batch extractor:
    // three automaton passes + the regex set per row, never one scan per
    // feature. Input text gets a rotating language-flavored header so
    // every feature family fires on some rows.
    Q("q43_legacy_features", ((s, dir) => {
      val bc = s.sparkContext.broadcast(new graft.functions.LegacyFeatures.Extractor)
      val bitsUdf = udf((text: String) => bc.value.extract(text))
      val injected = legacySnippets.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (snippet, i)) =>
          when(col("doc_id") % legacySnippets.length === i,
            concat(lit(snippet), col("text"))).otherwise(acc)
      }
      val named = graft.functions.LegacyFeatures.names.zipWithIndex.map {
        case (n, i) => col("bits").getItem(i).as(n)
      }
      t(s, dir, "documents")
        // CR/CRLF -> LF before extraction — see q41's comment
        .withColumn("t2", regexp_replace(injected, "\\r\\n?", "\n"))
        .withColumn("bits", bitsUdf(col("t2")))
        .select(col("doc_id") +: named.toSeq: _*)
        .orderBy("doc_id")
    }),
      // the full legacy catalog restated in SQL (generated per-feature:
      // word-boundary regexes, 'm'-flag regexes, list_filter line preds).
      oracle = legacyFeaturesOracleSql),

    // the engine's PRIMARY langid (char-n-gram NB) under the driver gate:
    // deterministic fixture model (literal weights), per-doc argmax,
    // aggregated per predicted class. Oracle = literal pin (the mix64
    // bucket hash has no DuckDB restatement); per-row semantic parity vs a
    // naive recount is spec-gated in NGramFixtureSpec.
    Q("q40_ngram_langid", ((s, dir) => {
      val bc = s.sparkContext.broadcast(graft.langid.NGramLangId.tinyFixture)
      val predUdf = udf((text: String) => bc.value.predict(text))
      t(s, dir, "documents")
        .groupBy(predUdf(col("text")).as("pred")).agg(count(lit(1)).as("n"))
        .orderBy("pred")
    }),
      // deterministic n-gram-langid aggregate pinned as a literal (values
      // independently recomputed in python incl. float32 accumulation
      // order); per-row parity is spec-gated in NGramFixtureSpec.
      oracle =
        """SELECT pred, CAST(n AS BIGINT) AS n
          |FROM (VALUES ('alpha', 233), ('beta', 267)) AS t(pred, n)
          |ORDER BY pred""".stripMargin,
      pin = Some("sf0.01")),
  )
}
