package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import Shared._

/** Dedup queries: exact, MinHash and SimHash near-dup pairs and clusters,
  * decontamination and its audits, keep-first line/paragraph dedup,
  * incremental dedup, duplicated-span measures and n-gram Jaccard. */
object DedupQueries {

  /** documents with planted near-duplicates (deterministic): every doc with
    * doc_id % 7 == 0 gets a mutated copy (one word appended, id offset by
    * 1e6). Input for dedup operators so candidate pairs actually exist. */
  private def docsWithPlantedDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
    val dups = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" mutated")).as("text"), col("lang"))
    docs.unionByName(dups)
  }

  // decontamination restated on word-shingle STRINGS (Spark side uses
  // 64-bit hashes of the same shingles — equal iff strings equal):
  // survivors are docs whose 8-gram set misses every benchmark 8-gram
  private val decontaminateOracleSql =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, lang,
      |    (CASE WHEN len(ws) >= 8 THEN
      |      list_distinct(list_transform(generate_series(1, len(ws) - 7),
      |        i -> array_to_string(ws[i:i+7], ' ')))
      |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
      |     ELSE [] END) AS s
      |  FROM d),
      |bench AS (SELECT ws[6:21] AS bw FROM d WHERE doc_id % 37 = 0 AND len(ws) >= 21),
      |bg AS (SELECT DISTINCT g FROM (
      |  SELECT unnest(list_transform(generate_series(1, len(bw) - 7),
      |    i -> array_to_string(bw[i:i+7], ' '))) AS g FROM bench))
      |SELECT lang, count(*) AS n
      |FROM sh, (SELECT list(g) AS bl FROM bg) b
      |WHERE len(list_intersect(s, b.bl)) = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q20's deterministic sf0.01 output pinned as a literal table (the
    * simhash word-mix is not expressible in DuckDB's checked-overflow
    * integer arithmetic); semantic gates live in DedupSpec. */
  private def q20LiteralOracleSql: String = {
    val rows =
      "(0,1000000,2),(5,233,4),(7,1000007,0),(8,245,2),(8,436,6),(8,1000245,1),(14,1000014,2)," +
      "(21,1000021,5),(28,1000028,3),(31,383,3),(35,1000035,1),(42,1000042,0),(44,446,3)," +
      "(45,121,6),(45,267,4),(45,413,1),(45,494,4),(45,1000413,2),(47,250,4),(49,1000049,3)," +
      "(56,1000056,0),(57,1000217,6),(58,293,3),(61,185,0),(63,251,5),(63,312,6),(63,1000063,0)," +
      "(67,199,5),(70,447,0),(70,1000070,2),(72,377,2),(77,1000077,2),(84,1000084,0)," +
      "(91,1000091,2),(92,450,3),(96,233,4),(98,290,1),(98,1000098,1),(105,1000105,2)," +
      "(107,387,5),(112,1000112,3),(119,1000119,2),(120,332,1),(126,187,6),(126,1000126,2)," +
      "(132,264,6),(133,1000133,0),(140,1000140,1),(147,176,5),(147,1000126,5),(147,1000147,1)," +
      "(151,316,5),(152,178,2),(154,1000154,2),(161,311,4),(161,1000161,3),(166,323,1)," +
      "(167,442,6),(168,1000168,3),(175,1000175,4),(176,1000147,6),(182,413,6),(182,423,6)," +
      "(182,1000182,1),(187,197,4),(187,426,6),(187,1000126,6),(188,453,6),(189,1000189,1)," +
      "(210,1000210,0),(217,1000217,4),(223,240,6),(223,423,5),(223,459,6),(224,1000224,0)," +
      "(230,470,6),(231,1000231,4),(234,312,5),(234,329,5),(238,1000238,5),(245,264,4)," +
      "(245,436,4),(245,1000245,1),(251,1000063,5),(252,1000252,6),(259,1000259,2),(264,328,5)," +
      "(264,436,6),(266,1000266,3),(267,413,3),(267,1000413,2),(273,1000273,5),(280,1000280,0)," +
      "(285,301,2),(285,1000301,2),(287,1000287,3),(290,1000098,2),(294,1000294,2),(295,374,6)," +
      "(301,1000301,2),(303,333,5),(308,1000308,1),(310,389,1),(312,349,6),(312,1000063,6)," +
      "(315,1000315,2),(317,377,6),(322,1000322,4),(326,457,2),(329,1000329,3),(336,388,6)," +
      "(336,1000336,1),(336,1000406,6),(343,1000343,3),(350,1000350,0),(357,1000357,3)," +
      "(364,1000364,3),(369,486,6),(371,1000371,0),(378,1000378,1),(385,1000385,1)," +
      "(392,1000392,4),(393,420,2),(393,1000420,2),(399,1000399,4),(406,1000406,3)," +
      "(413,1000413,1),(420,1000420,2),(427,1000427,2),(434,1000434,0),(435,486,2)," +
      "(436,1000245,5),(441,1000441,2),(447,1000070,2),(448,1000448,1),(455,1000455,5)," +
      "(462,1000462,3),(476,1000476,4),(483,1000483,1),(490,1000490,1),(497,1000497,6)," +
      "(1000070,1000301,6),(1000126,1000147,6),(1000385,1000406,6)"
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       | CAST(hamming AS INTEGER) AS hamming
       |FROM (VALUES $rows) AS t(id_a, id_b, hamming)
       |ORDER BY id_a, id_b""".stripMargin
  }

  val all: Seq[Q] = Seq(
    // exact dedup over a doubled table: keep min id per fingerprint
    Q("q12_dedup_exact", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      graft.dedup.Dedup.exact(doubled, "text", "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),
      oracle =
        // global dedup keeps the min-id row per fingerprint, so a text
        // duplicated across languages counts once, under the min-id's lang
        s"""SELECT lang, count(*) AS n FROM (
           |  SELECT arg_min(lang, doc_id) AS lang FROM documents GROUP BY $fpSql
           |) GROUP BY 1 ORDER BY 1""".stripMargin),

    // MinHash LSH near-dup pairs on planted dups.
    // cacheShingles: the (id, shingle-hashes) projection is persisted so
    // the text is read and tokenized exactly once (DedupSpec proves the
    // single scan); without it the plan makes 3 narrow text passes.
    Q("q19_minhash_dups", ((s, dir) =>
      graft.dedup.Dedup.minhashDupPairs(docsWithPlantedDups(s, dir), "text", "doc_id",
          w = 3, k = 32, bands = 16, threshold = 0.5, cacheShingles = true)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j6"))
        .orderBy("id_a", "id_b")),
      // exact ground truth for the LSH pair-finder: ALL-PAIRS word-3-shingle
      // Jaccard >= 0.5 over the planted-dup table (id < 1e6 base rows plus
      // the doc_id%7 mutated copies). LSH candidate recall is probabilistic
      // in general (pair-miss ~(1-J^2)^16), but both sides are DETERMINISTIC
      // functions of the fixed sf0.01 corpus, where the banded candidates
      // were verified to cover every >=0.5 pair (106 pairs, zero set diff).
      oracle =
        """WITH d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text
          |  FROM documents WHERE doc_id % 7 = 0),
          |sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM d)),
          |j AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(a.s, b.s)) * 1.0 /
          |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) AS jac
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          |SELECT id_a, id_b, round(jac, 6) AS j6 FROM j
          |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,
      pin = Some("sf0.01")),

    // near-dup CLUSTERING: the q19 pair list -> connected components via
    // hash-min label propagation (comp = min doc_id in the duplicate
    // cluster — the canonical survivor a dedup pass would keep). Oracle =
    // recursive-CTE transitive closure over the exact all-pairs truth.
    Q("q49_dedup_components", ((s, dir) => {
      val pairs = graft.dedup.Dedup.minhashDupPairs(docsWithPlantedDups(s, dir),
        "text", "doc_id", w = 3, k = 32, bands = 16, threshold = 0.5,
        cacheShingles = true)
      graft.dedup.Dedup.components(pairs).orderBy("node")
    }),
      // connected components over the exact all-pairs near-dup truth
      // (same CTEs as q19), via recursive-CTE label spreading: every
      // reachable label reaches every node; min per node = min id in the
      // component — exactly the hash-min fixpoint the engine computes
      oracle =
        """WITH RECURSIVE d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text
          |  FROM documents WHERE doc_id % 7 = 0),
          |sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM d)),
          |j AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(a.s, b.s)) * 1.0 /
          |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) AS jac
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          |e AS (
          |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.5
          |  UNION ALL
          |  SELECT id_b AS a, id_a AS b FROM j WHERE jac >= 0.5),
          |cc AS (
          |  SELECT a AS node, a AS comp FROM e
          |  UNION
          |  SELECT e.b AS node, cc.comp AS comp FROM cc JOIN e ON e.a = cc.node)
          |SELECT node, CAST(min(comp) AS BIGINT) AS comp
          |FROM cc GROUP BY node ORDER BY node""".stripMargin,
      pin = Some("sf0.01")),

    // the END-TO-END near-dup filter: pairs -> clusters -> keep only the
    // min-id member per cluster; per-lang survivor counts under the gate
    Q("q51_drop_near_dups", ((s, dir) =>
      graft.dedup.Dedup.dropNearDups(docsWithPlantedDups(s, dir), "text", "doc_id",
          w = 3, k = 32, bands = 16, threshold = 0.5)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),
      // end-to-end near-dup filter: survivors = docs that are not a
      // non-canonical member of any duplicate cluster (same closure CTEs
      // as q49, same sf0.01 recall pin)
      oracle =
        """WITH RECURSIVE d AS (
          |  SELECT doc_id, text, lang FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text, lang
          |  FROM documents WHERE doc_id % 7 = 0),
          |sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM d)),
          |j AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(a.s, b.s)) * 1.0 /
          |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) AS jac
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          |e AS (
          |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.5
          |  UNION ALL
          |  SELECT id_b AS a, id_a AS b FROM j WHERE jac >= 0.5),
          |cc AS (
          |  SELECT a AS node, a AS comp FROM e
          |  UNION
          |  SELECT e.b AS node, cc.comp AS comp FROM cc JOIN e ON e.a = cc.node),
          |losers AS (
          |  SELECT node FROM (SELECT node, min(comp) AS comp FROM cc GROUP BY node)
          |  WHERE node <> comp)
          |SELECT lang, count(*) AS n FROM d
          |WHERE doc_id NOT IN (SELECT node FROM losers)
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      pin = Some("sf0.01")),

    // the near-dup filter under the KEEP-BEST policy: same planted
    // mutants as q51, but each cluster keeps its LONGEST member (the
    // mutant — base text || ' mutated'), the opposite survivor set from
    // q51's min-id, so the gate distinguishes the policies.
    Q("q95_drop_near_dups_best", ((s, dir) =>
      graft.dedup.Dedup.dropNearDupsBest(docsWithPlantedDups(s, dir), "text", "doc_id",
          length(col("text")).cast("long"),
          w = 3, k = 32, bands = 16, threshold = 0.5)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),
      // q51's closure with the keep-best tail: the per-cluster winner is
      // arg_max over [length, -id] (max length, tie -> min id)
      oracle =
        """WITH RECURSIVE d AS (
          |  SELECT doc_id, text, lang FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text, lang
          |  FROM documents WHERE doc_id % 7 = 0),
          |sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM d)),
          |j AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    (CASE WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(a.s, b.s)) * 1.0 /
          |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) AS jac
          |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
          |e AS (
          |  SELECT id_a AS a, id_b AS b FROM j WHERE jac >= 0.5
          |  UNION ALL
          |  SELECT id_b AS a, id_a AS b FROM j WHERE jac >= 0.5),
          |cc AS (
          |  SELECT a AS node, a AS comp FROM e
          |  UNION
          |  SELECT e.b AS node, cc.comp AS comp FROM cc JOIN e ON e.a = cc.node),
          |m AS (SELECT node, min(comp) AS comp FROM cc GROUP BY node),
          |sc AS (SELECT m.node, m.comp, CAST(length(d.text) AS BIGINT) AS s
          |       FROM m JOIN d ON m.node = d.doc_id),
          |mx AS (SELECT comp, max(s) AS ms FROM sc GROUP BY comp),
          |w AS (SELECT sc.comp, min(sc.node) AS keep FROM sc
          |      JOIN mx ON sc.comp = mx.comp AND sc.s = mx.ms GROUP BY sc.comp),
          |losers AS (
          |  SELECT sc.node FROM sc JOIN w ON sc.comp = w.comp WHERE sc.node <> w.keep)
          |SELECT lang, count(*) AS n FROM d
          |WHERE doc_id NOT IN (SELECT node FROM losers)
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      pin = Some("sf0.01")),

    // benchmark decontamination: a "benchmark" is built from a 16-word
    // window of every 37th document, so exactly those source documents
    // share an 8-gram with it and must be dropped; per-lang survivor
    // counts under the gate
    Q("q55_decontaminate", ((s, dir) => {
      val docs = t(s, dir, "documents")
      def words(c: Column) =
        filter(split(lower(c), "\\s+"), w => w =!= lit(""))
      val bench = docs
        .filter(col("doc_id") % 37 === 0 && size(words(col("text"))) >= 21)
        .select(concat_ws(" ", slice(words(col("text")), 6, 16)).as("btext"))
      graft.dedup.Dedup.decontaminate(docs, "text", "doc_id", bench, "btext", w = 8)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),
      oracle = decontaminateOracleSql),

    // the contamination AUDIT over the same benchmark: per bench item,
    // total distinct 8-grams, grams found anywhere in the corpus, and
    // distinct contaminated docs. Every item leaks by construction (it
    // is a window of a corpus doc) — the gate checks the exact counts.
    Q("q86_contamination_report", ((s, dir) => {
      val docs = t(s, dir, "documents")
      def words(c: Column) =
        filter(split(lower(c), "\\s+"), w => w =!= lit(""))
      val bench = docs
        .filter(col("doc_id") % 37 === 0 && size(words(col("text"))) >= 21)
        .select(col("doc_id").as("bench_id"),
          concat_ws(" ", slice(words(col("text")), 6, 16)).as("btext"))
      graft.dedup.Dedup.contaminationReport(docs, "text", "doc_id",
          bench, "btext", "bench_id", w = 8)
        .orderBy("bench_id")
    }),
      // contamination audit: distinct (id, gram) pairs both sides, one
      // gram join, two count-distincts per bench item; the q55 gram and
      // bench-window conventions verbatim
      oracle =
        """WITH d AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |dg AS (SELECT DISTINCT doc_id, g FROM (
          |  SELECT doc_id,
          |    unnest(CASE WHEN len(ws) >= 8 THEN
          |        list_distinct(list_transform(generate_series(1, len(ws) - 7),
          |          i -> array_to_string(ws[i:i+7], ' ')))
          |      WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |      ELSE [] END) AS g
          |  FROM d)),
          |bench AS (SELECT doc_id AS bench_id, ws[6:21] AS bw
          |      FROM d WHERE doc_id % 37 = 0 AND len(ws) >= 21),
          |bgr AS (SELECT bench_id,
          |        list_distinct(list_transform(generate_series(1, len(bw) - 7),
          |          i -> array_to_string(bw[i:i+7], ' '))) AS gs
          |      FROM bench),
          |bg AS (SELECT bench_id, unnest(gs) AS g FROM bgr),
          |h AS (SELECT bg.bench_id,
          |        CAST(count(DISTINCT dg.doc_id) AS BIGINT) AS n_docs,
          |        CAST(count(DISTINCT bg.g) AS BIGINT) AS n_grams_hit
          |      FROM bg JOIN dg ON bg.g = dg.g GROUP BY 1)
          |SELECT bgr.bench_id AS bench_id, CAST(len(bgr.gs) AS BIGINT) AS n_grams,
          |  CAST(coalesce(h.n_grams_hit, 0) AS BIGINT) AS n_grams_hit,
          |  CAST(coalesce(h.n_docs, 0) AS BIGINT) AS n_docs
          |FROM bgr LEFT JOIN h ON bgr.bench_id = h.bench_id
          |ORDER BY bench_id""".stripMargin),

    // SPLIT-LEAKAGE audit: the q11 deterministic train/val split, then
    // the q86 contamination report with the VAL side as the "benchmark"
    // — per val doc, how many of its 8-grams appear in train and how
    // many train docs share one. The hygiene check run before trusting
    // a held-out metric; the corpus's natural dup spans leak.
    Q("q87_split_leakage", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bucket = md5Bucket(col("doc_id"), 100)
      val train = docs.filter(bucket >= 20)
      val valD = docs.filter(bucket < 20)
        .select(col("doc_id").as("val_id"), col("text"))
      graft.dedup.Dedup.contaminationReport(train, "text", "doc_id",
          valD, "text", "val_id", w = 8)
        .orderBy("val_id")
    }),
      // split-leakage audit: q11's md5 split + q86's report machinery,
      // val grams vs train grams
      oracle =
        s"""WITH d AS (
           |  SELECT doc_id, $md5bucket AS bkt,
           |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ws
           |  FROM documents),
           |g0 AS (SELECT doc_id, bkt,
           |    CASE WHEN len(ws) >= 8 THEN
           |        list_distinct(list_transform(generate_series(1, len(ws) - 7),
           |          i -> array_to_string(ws[i:i+7], ' ')))
           |      WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
           |      ELSE [] END AS gs
           |  FROM d),
           |tg AS (SELECT DISTINCT doc_id, g FROM (
           |  SELECT doc_id, unnest(gs) AS g FROM g0 WHERE bkt >= 20)),
           |v0 AS (SELECT doc_id AS val_id, gs FROM g0 WHERE bkt < 20),
           |vg AS (SELECT val_id, unnest(gs) AS g FROM v0),
           |h AS (SELECT vg.val_id,
           |        CAST(count(DISTINCT tg.doc_id) AS BIGINT) AS n_docs,
           |        CAST(count(DISTINCT vg.g) AS BIGINT) AS n_grams_hit
           |      FROM vg JOIN tg ON vg.g = tg.g GROUP BY 1)
           |SELECT v0.val_id AS val_id, CAST(len(v0.gs) AS BIGINT) AS n_grams,
           |  CAST(coalesce(h.n_grams_hit, 0) AS BIGINT) AS n_grams_hit,
           |  CAST(coalesce(h.n_docs, 0) AS BIGINT) AS n_docs
           |FROM v0 LEFT JOIN h ON v0.val_id = h.val_id
           |ORDER BY val_id""".stripMargin),

    // the SAME decontamination semantics through the any-size SEMI-JOIN
    // tier (shuffled shingle hashes instead of a broadcast set — the path
    // for benchmark sides too large to broadcast); one oracle, two
    // execution paths
    Q("q57_decontaminate_join", ((s, dir) => {
      val docs = t(s, dir, "documents")
      def words(c: Column) =
        filter(split(lower(c), "\\s+"), w => w =!= lit(""))
      val bench = docs
        .filter(col("doc_id") % 37 === 0 && size(words(col("text"))) >= 21)
        .select(concat_ws(" ", slice(words(col("text")), 6, 16)).as("btext"))
      graft.dedup.Dedup.decontaminateJoin(docs, "text", "doc_id", bench, "btext", w = 8)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),
      // identical semantics to q55 through the semi-join tier: same oracle
      oracle = decontaminateOracleSql),

    // the SAME decontamination semantics through the BLOOM-PREFILTERED
    // tier (distributed bloom build -> narrow prefilter -> exact confirm
    // semi-join over only the possible hits): one oracle, THREE execution
    // paths (q55 broadcast / q57 semi-join / q71 bloom) — the bloom only
    // prefilters, the exact join confirms, so false positives cost
    // shuffle bytes, never rows
    Q("q71_decontaminate_bloom", ((s, dir) => {
      val docs = t(s, dir, "documents")
      def words(c: Column) =
        filter(split(lower(c), "\\s+"), w => w =!= lit(""))
      val bench = docs
        .filter(col("doc_id") % 37 === 0 && size(words(col("text"))) >= 21)
        .select(concat_ws(" ", slice(words(col("text")), 6, 16)).as("btext"))
      graft.dedup.Dedup.decontaminateBloom(docs, "text", "doc_id", bench, "btext", w = 8)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),
      // identical semantics to q55 through the bloom-prefiltered tier:
      // same oracle, third execution path (bloom = prefilter only; the
      // exact confirm join decides membership)
      oracle = decontaminateOracleSql),

    // corpus-wide KEEP-FIRST exact line dedup (Lee et al. exact-substring
    // dedup at line granularity): a line planted into every 3rd doc
    // survives only in its globally-first occurrence (doc 0); later
    // occurrences — and any coincidental duplicate text lines in the
    // corpus — are removed. md5 of the rebuilt text gates byte parity.
    Q("q72_dedup_lines", ((s, dir) => {
      val planted = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nEvery third doc repeats this exact line.")))
        .otherwise(col("text"))
      val docs = t(s, dir, "documents").select(col("doc_id"), planted.as("text"))
      graft.dedup.Dedup.dedupLinesKeepFirst(docs, "text", "doc_id")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),
      // keep-first line dedup: position-aware explode (zipped unnests),
      // one window keeps the global first occurrence of every line,
      // docs rebuilt in line order (empty rebuilds coalesce to '')
      oracle =
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 3 = 0
          |      THEN text || chr(10) || 'Every third doc repeats this exact line.'
          |      ELSE text END AS t2
          |  FROM documents),
          |l AS (SELECT doc_id,
          |        list_filter(string_split(t2, chr(10)), x -> len(x) > 0) AS ls
          |      FROM p),
          |e AS (SELECT doc_id,
          |        unnest(generate_series(1, len(ls))) AS pos,
          |        unnest(ls) AS line
          |      FROM l),
          |k AS (SELECT doc_id, pos, line,
          |        row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
          |      FROM e),
          |r AS (SELECT doc_id,
          |        array_to_string(list(line ORDER BY pos), chr(10)) AS clean
          |      FROM k WHERE rn = 1 GROUP BY doc_id)
          |SELECT p.doc_id,
          |  CAST(len(coalesce(clean, '')) AS BIGINT) AS n_chars_clean,
          |  md5(coalesce(clean, '')) AS clean_md5
          |FROM p LEFT JOIN r ON p.doc_id = r.doc_id
          |ORDER BY p.doc_id""".stripMargin),

    // keep-first dedup at PARAGRAPH granularity (RefinedWeb runs both
    // levels): a footer paragraph planted into every 4th doc (across a
    // TRIPLE newline on %8==5, exercising the \n{2,} split) survives
    // only in doc 0; separators normalize to the canonical \n\n.
    Q("q96_dedup_paragraphs", ((s, dir) => {
      val p1 = when(col("doc_id") % 4 === 0,
        concat(col("text"), lit("\n\nShared syndication footer paragraph.")))
        .otherwise(col("text"))
      val p2 = when(col("doc_id") % 8 === 5,
        concat(p1, lit("\n\n\nShared syndication footer paragraph.")))
        .otherwise(p1)
      val docs = t(s, dir, "documents").select(col("doc_id"), p2.as("text"))
      graft.dedup.Dedup.dedupUnitsKeepFirst(docs, "text", "doc_id", "\n{2,}", "\n\n")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_clean"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    }),
      // paragraph keep-first: q72's machinery on \n{2,} units, rebuilt
      // with the canonical double-newline separator
      oracle =
        """WITH p AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 8 = 5
          |      THEN p1 || chr(10) || chr(10) || chr(10) || 'Shared syndication footer paragraph.'
          |      ELSE p1 END AS t2
          |  FROM (SELECT doc_id,
          |          CASE WHEN doc_id % 4 = 0
          |            THEN text || chr(10) || chr(10) || 'Shared syndication footer paragraph.'
          |            ELSE text END AS p1
          |        FROM documents)),
          |l AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(t2, '\n{2,}'), x -> len(x) > 0) AS ps
          |      FROM p),
          |e AS (SELECT doc_id,
          |        unnest(generate_series(1, len(ps))) AS pos,
          |        unnest(ps) AS para
          |      FROM l),
          |k AS (SELECT doc_id, pos, para,
          |        row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
          |      FROM e),
          |r AS (SELECT doc_id,
          |        array_to_string(list(para ORDER BY pos), chr(10) || chr(10)) AS clean
          |      FROM k WHERE rn = 1 GROUP BY doc_id)
          |SELECT p.doc_id,
          |  CAST(len(coalesce(clean, '')) AS BIGINT) AS n_chars_clean,
          |  md5(coalesce(clean, '')) AS clean_md5
          |FROM p LEFT JOIN r ON p.doc_id = r.doc_id
          |ORDER BY p.doc_id""".stripMargin),

    // INCREMENTAL ingest dedup: a synthetic "daily batch" (near-dup
    // mutations of every 7th corpus doc, exact copies of every 11th≡3,
    // word-reversed — mostly novel — rewrites of every 13th≡5) deduped
    // against the standing corpus; surviving batch ids under the gate.
    // Oracle = exact all-CROSS-pairs Jaccard truth (the q19 pattern).
    Q("q74_incremental_dedup", ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      def words(c: Column) =
        filter(split(lower(c), "\\s+"), w => w =!= lit(""))
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" mutated")).as("text"), col("lang"))
        .unionByName(docs.filter(col("doc_id") % 11 === 3)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text"), col("lang")))
        .unionByName(docs.filter(col("doc_id") % 13 === 5)
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat_ws(" ", reverse(words(col("text")))).as("text"), col("lang")))
      graft.dedup.Dedup.dedupAgainstCorpus(batch, docs, "text", "doc_id",
          w = 3, k = 32, bands = 16, threshold = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
      // incremental dedup: exact all-CROSS-pairs word-3-shingle Jaccard
      // truth between the synthetic batch and the corpus (the q19 CTEs,
      // keyed batch x corpus instead of self-paired); survivors are batch
      // rows with no corpus partner at >= 0.5 (exact copies land at 1.0)
      oracle =
        """WITH batch AS (
          |  SELECT doc_id + 1000000 AS doc_id, text || ' mutated' AS text, lang
          |  FROM documents WHERE doc_id % 7 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id, text, lang
          |  FROM documents WHERE doc_id % 11 = 3
          |  UNION ALL
          |  SELECT doc_id + 3000000 AS doc_id,
          |    array_to_string(list_reverse(
          |      list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')), ' ') AS text,
          |    lang
          |  FROM documents WHERE doc_id % 13 = 5),
          |shb AS (
          |  SELECT doc_id, lang,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id, lang,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM batch)),
          |shc AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_distinct(list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          |     WHEN len(ws) >= 1 THEN [array_to_string(ws, ' ')]
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id,
          |          list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |        FROM documents)),
          |dropped AS (
          |  SELECT DISTINCT b.doc_id
          |  FROM shb b JOIN shc c ON
          |    (CASE WHEN len(b.s) = 0 AND len(c.s) = 0 THEN 1.0
          |     ELSE len(list_intersect(b.s, c.s)) * 1.0 /
          |          (len(b.s) + len(c.s) - len(list_intersect(b.s, c.s))) END) >= 0.5)
          |SELECT doc_id, lang FROM batch
          |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
          |ORDER BY doc_id""".stripMargin,
      // exact cross-pairs Jaccard truth — assumes the cross-frame banding
      // achieves 100% recall on THIS corpus (the q19 stance; verified at
      // sf0.01: every >= 0.5 batch-corpus pair is a band candidate)
      pin = Some("sf0.01")),

    // duplicated-SPAN coverage (Lee et al. exact-substring measure at
    // word-8-gram resolution): fraction of each doc's word positions
    // covered by a gram occurring >= 2 times corpus-wide — the word-soup
    // corpus carries ~9% natural dup positions, no planting needed.
    // Fixed-width intervals make coverage a closed form over one lead()
    // window (no fold state); integer counts, one double division.
    Q("q77_dup_span", ((s, dir) =>
      graft.dedup.Dedup.dupSpanStats(t(s, dir, "documents"), "text", "doc_id", w = 8)
        .orderBy("doc_id")),
      // duplicated-span coverage: zipped-unnest positions, HAVING >= 2
      // gram counts, the same closed-form lead() coverage window
      oracle =
        """WITH b AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |base AS (SELECT doc_id, len(ws) AS n, ws FROM b),
          |gr AS (
          |  SELECT doc_id,
          |    unnest(generate_series(1, len(ws) - 7)) - 1 AS pos,
          |    unnest(list_transform(generate_series(1, len(ws) - 7),
          |      i -> array_to_string(ws[i:i+7], ' '))) AS g
          |  FROM base WHERE n >= 8),
          |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
          |hit AS (SELECT doc_id, pos FROM gr WHERE g IN (SELECT g FROM dup)),
          |cov AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_tokens FROM (
          |    SELECT doc_id,
          |      least(8, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8)) AS c
          |    FROM hit) GROUP BY doc_id),
          |j AS (SELECT base.doc_id, base.n, coalesce(cov.dup_tokens, 0) AS dup_tokens
          |      FROM base LEFT JOIN cov ON base.doc_id = cov.doc_id)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_words, dup_tokens,
          |  CAST(CASE WHEN n = 0 THEN 0.0
          |    ELSE CAST(dup_tokens AS DOUBLE) / CAST(n AS DOUBLE) END AS DOUBLE) AS dup_span_frac
          |FROM j ORDER BY doc_id""".stripMargin),

    // duplicated-span REMOVAL end-to-end (q77's measure turned into the
    // rewrite): a syndicated 11-word sentence planted on %4==2 (cross-doc
    // dup 8-grams) on top of the corpus's natural dup spans; covered
    // positions are scrubbed and the doc rebuilt from original-case
    // survivors. md5 byte-parity on the rebuilt text (the q72 stance).
    Q("q84_drop_dup_spans", ((s, dir) => {
      val phrase = " syndicated wire story reproduced verbatim across many outlets again today updated"
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 2, concat(col("text"), lit(phrase)))
          .otherwise(col("text")).as("t2"))
      graft.dedup.Dedup.dropDupSpans(docs, "t2", "doc_id", w = 8)
        .select(col("doc_id"), col("n_words"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),
      // duplicated-span removal: q77's gram machinery (lowered grams over
      // original-case words), start flags joined back to every position,
      // coverage via max over RANGE [pos-7, pos], ordered string_agg
      // rebuild; md5 byte parity on the rebuilt text
      oracle =
        """WITH inj AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 4 = 2
          |      THEN text || ' syndicated wire story reproduced verbatim across many outlets again today updated'
          |      ELSE text END AS t2
          |  FROM documents),
          |b AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(t2, '\s+'), x -> x <> '') AS ws
          |      FROM inj),
          |base AS (SELECT doc_id, len(ws) AS n, ws FROM b),
          |gr AS (
          |  SELECT doc_id,
          |    unnest(generate_series(1, len(ws) - 7)) - 1 AS pos,
          |    unnest(list_transform(generate_series(1, len(ws) - 7),
          |      i -> array_to_string(list_transform(ws[i:i+7], x -> lower(x)), ' '))) AS g
          |  FROM base WHERE n >= 8),
          |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
          |st AS (SELECT doc_id,
          |        unnest(generate_series(1, len(ws))) - 1 AS pos,
          |        unnest(ws) AS w
          |      FROM base WHERE n >= 8),
          |hit AS (SELECT doc_id, pos FROM gr WHERE g IN (SELECT g FROM dup)),
          |fl AS (SELECT st.doc_id, st.pos, st.w,
          |        CASE WHEN hit.pos IS NOT NULL THEN 1 ELSE 0 END AS s
          |      FROM st LEFT JOIN hit ON st.doc_id = hit.doc_id AND st.pos = hit.pos),
          |cv AS (SELECT doc_id, pos, w,
          |        max(s) OVER (PARTITION BY doc_id ORDER BY pos
          |          RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
          |      FROM fl),
          |k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nk,
          |        string_agg(w, ' ' ORDER BY pos) AS ct
          |      FROM cv WHERE cov = 0 GROUP BY 1)
          |SELECT base.doc_id AS doc_id, CAST(base.n AS BIGINT) AS n_words,
          |  CAST(CASE WHEN base.n < 8 THEN base.n ELSE coalesce(k.nk, 0) END AS BIGINT) AS n_kept,
          |  md5(CASE WHEN base.n < 8 THEN array_to_string(base.ws, ' ')
          |    ELSE coalesce(k.ct, '') END) AS clean_md5
          |FROM base LEFT JOIN k ON base.doc_id = k.doc_id
          |ORDER BY base.doc_id""".stripMargin),

    // SimHash near-dup pairs on planted dups
    Q("q20_simhash_dups", ((s, dir) =>
      graft.dedup.Dedup.simhashDupPairs(docsWithPlantedDups(s, dir), "text", "doc_id",
        maxHamming = 6)
        .orderBy("id_a", "id_b")),
      // simhash banding + hamming<=6 is a pure deterministic function of the
      // fixed word-hash mixing; the sf0.01 output (144 pairs) is pinned as a
      // literal table. Semantic gates (near-dup recall, hot-bucket cap) are
      // spec-tested in DedupSpec.
      oracle = q20LiteralOracleSql,
      pin = Some("sf0.01")),

    // exact n-gram (word 3-shingle) Jaccard between consecutive docs —
    // the verification kernel of near-dup detection, oracle-checked
    Q("q34_ngram_jaccard", ((s, dir) => {
      def shingles(c: Column): Column = {
        val words = split(lower(trim(c)), "\\s+")
        when(size(words) >= 3,
          transform(sequence(lit(0), size(words) - 3), i =>
            concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2),
              element_at(words, i + 3))))
          .otherwise(array().cast("array<string>"))
      }
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), shingles(col("text")).as("sa"))
      val b = d.select((col("doc_id") - 1).as("id_a"), shingles(col("text")).as("sb"))
      a.join(b, "id_a")
        .select(col("id_a"),
          when(size(array_union(col("sa"), col("sb"))) === 0, lit(1.0))
            .otherwise(size(array_intersect(col("sa"), col("sb"))) /
              size(array_union(col("sa"), col("sb")))).as("jaccard"))
        .select(col("id_a"), round(col("jaccard"), 6).as("j6"))
        .orderBy("id_a")
    }),
      oracle =
        """WITH sh AS (
          |  SELECT doc_id,
          |    (CASE WHEN len(ws) >= 3 THEN
          |      list_transform(generate_series(1, len(ws) - 2),
          |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
          |     ELSE [] END) AS s
          |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
          |        FROM documents))
          |SELECT a.doc_id AS id_a,
          |  round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 1.0
          |   ELSE len(list_intersect(list_distinct(a.s), list_distinct(b.s)))
          |        / len(list_distinct(list_concat(a.s, b.s))) END, 6) AS j6
          |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
          |ORDER BY id_a""".stripMargin),
  )
}
