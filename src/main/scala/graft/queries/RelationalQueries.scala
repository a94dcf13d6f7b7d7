package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions._
import Shared._

/** Relational and statistics queries: TPC-H-shaped aggregates, joins,
  * windows, top-N, hash splits and samples, quantiles, distinct counts,
  * domain-mix weights and sequence packing. */
object RelationalQueries {

  val all: Seq[Q] = Seq(
    // A1 group count — `features.py:86` value_counts
    Q("q1_agg", ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag")),
      oracle =
        "SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY 1 ORDER BY 1"),

    // TPC-H Q1 shape: multi-agg with exact decimal sums
    Q("q2_pricing_agg", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),
      oracle =
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sum_price, count(*) AS n
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // J1 joins (broadcast dims) + group agg
    Q("q3_join_agg", ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name")
    }),
      oracle =
        """SELECT r_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS revenue, count(*) AS n_orders
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // O3 per-group head via window row_number
    Q("q4_window_head", ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        // long, not Spark's int32 row_number: DuckDB row_number() is BIGINT
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select("user_id", "rn", "event_id", "event_type")
        .orderBy("user_id", "rn")
    }),
      oracle =
        """SELECT user_id, rn, event_id, event_type FROM (
          | SELECT user_id, event_id, event_type,
          |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          | FROM events) WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin),

    // O1 sort + deterministic limit (total order incl. tiebreaks)
    Q("q5_topn", ((s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(25)),
      oracle =
        """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
          |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25""".stripMargin),

    // U1/U2 union + distinct
    Q("q6_union_distinct", ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .unionByName(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")),
      oracle =
        """SELECT nationkey FROM (
          |SELECT c_nationkey AS nationkey FROM customer
          |UNION SELECT s_nationkey AS nationkey FROM supplier) ORDER BY 1""".stripMargin),

    // F1 isin membership filter
    Q("q7_filter_isin", ((s, dir) =>
      t(s, dir, "documents")
        .filter(col("lang").isin("en", "de", "fr"))
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .orderBy("lang", "source")),
      oracle =
        """SELECT lang, source, count(*) AS n FROM documents
          |WHERE lang IN ('en','de','fr') GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // F4/F5 projection + rename + filter pushdown.
    // price: exact DECIMAL(18,2) quantization, emitted as DOUBLE. A per-row
    // DECIMAL output hash-mismatches in the driver whenever the cents end in
    // zero (Decimal('1419.20') vs float 1419.2 stringify differently across
    // the pyarrow/duckdb read paths) -- and EVERY p_retailprice here has <=1
    // decimal digit, so r01/r02 failed on all 1199 rows. DOUBLE is identical
    // float64 on every reader.
    Q("q8_project_rename", ((s, dir) =>
      t(s, dir, "part")
        .filter(col("p_size") > 20)
        .select(col("p_partkey").as("part_key"), upper(col("p_brand")).as("brand_u"),
          col("p_retailprice").cast("decimal(18,2)").cast("double").as("price"))
        .orderBy("part_key")),
      oracle =
        """SELECT p_partkey AS part_key, upper(p_brand) AS brand_u,
          | CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price
          |FROM part WHERE p_size > 20 ORDER BY part_key""".stripMargin),

    // A11 distinct count
    Q("q9_countdistinct", ((s, dir) =>
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))
        .orderBy("event_type")),
      oracle =
        """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // A1 value_counts with order
    Q("q10_value_counts", ((s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),
      oracle =
        "SELECT lang, count(*) AS n FROM documents GROUP BY 1 ORDER BY 1"),

    // A10 deterministic hash split (md5 bucket -- oracle-checkable)
    Q("q11_det_split", ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("is_val", md5Bucket(col("doc_id"), 100) < 20)
        .groupBy("lang", "is_val").agg(count(lit(1)).as("n"))
        .orderBy("lang", "is_val")),
      oracle =
        s"""SELECT lang, $md5bucket < 20 AS is_val, count(*) AS n
           |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // quantile cutoffs for threshold-based quality filtering: exact
    // percentile path (oracle-checkable vs DuckDB quantile_cont — same
    // linear-interpolation definition). DYADIC fractions (.25/.5/.75) on
    // integer lengths make the interpolated doubles bit-exact in both
    // engines regardless of evaluation order, so no rounding is needed.
    // Quantiles.approx (KLL-style sketch) is the 100 TB path, spec-gated
    // within rank tolerance of this exact result.
    Q("q52_quality_percentiles", ((s, dir) =>
      graft.stats.Quantiles.exact(t(s, dir, "documents"), length(col("text")),
          Seq("source"), Seq(0.25, 0.5, 0.75))
        .orderBy("source")),
      // quantile_cont shares percentile's linear-interpolation definition;
      // dyadic fractions on integer lengths -> bit-exact doubles both sides
      oracle =
        """SELECT source,
          | quantile_cont(CAST(length(text) AS DOUBLE), 0.25) AS p25,
          | quantile_cont(CAST(length(text) AS DOUBLE), 0.5) AS p50,
          | quantile_cont(CAST(length(text) AS DOUBLE), 0.75) AS p75
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // quantile-band quality filter end-to-end (the "keep p25..p75 by
    // length per source" tier): exact dyadic cutoffs (oracle-checkable
    // vs quantile_cont) broadcast back over one corpus scan. The
    // production path swaps useExact for the approx_percentile sketch
    // (same call shape, spec-gated within rank tolerance).
    Q("q58_quantile_band", ((s, dir) =>
      graft.stats.Quantiles.keepQuantileBand(t(s, dir, "documents"),
          length(col("text")), Seq("source"), 0.25, 0.75, useExact = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).cast("bigint").as("sum_len"))
        .orderBy("source")),
      // band filter over the q52 cutoffs; BETWEEN is inclusive both sides
      // in both engines, cutoffs are bit-exact dyadic doubles
      oracle =
        """WITH cuts AS (
          |  SELECT source,
          |    quantile_cont(CAST(length(text) AS DOUBLE), 0.25) AS lo,
          |    quantile_cont(CAST(length(text) AS DOUBLE), 0.75) AS hi
          |  FROM documents GROUP BY 1)
          |SELECT d.source, count(*) AS n, CAST(sum(length(d.text)) AS BIGINT) AS sum_len
          |FROM documents d JOIN cuts c ON d.source = c.source
          |WHERE CAST(length(d.text) AS DOUBLE) BETWEEN c.lo AND c.hi
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // hot-key profiler (exact tier): the 20 hottest users in the events
    // table — the diagnostic run before sizing a join's skew handling.
    // The one-pass shuffle-free Misra-Gries tier is spec-gated (SkewSpec)
    // against this exact semantics.
    Q("q60_heavy_hitters", ((s, dir) =>
      graft.stats.Skew.topKeysExact(t(s, dir, "events"), "user_id", 20)),
      // count-desc, key-asc is a total order -> stable LIMIT both engines
      oracle =
        """SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
          |FROM events GROUP BY 1 ORDER BY n DESC, key LIMIT 20""".stripMargin),

    // domain-mix temperature weights (multi-source sampling, tau=0.5):
    // one map-side-combined aggregate, normalization over the one-row-
    // per-source result. weight_prop is the exact integer-ratio tau=1
    // mix; weight_t05 is rounded to 6 (pow/sqrt agree to <1 ulp across
    // engines, rounding absorbs it — q18's cosine precedent)
    Q("q63_domain_mix", ((s, dir) =>
      graft.etl.Sampling.temperatureWeights(
          t(s, dir, "documents"), "source", tokenCount(col("text")), tau = 0.5)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("weight_prop"), round(col("weight_tau"), 6).as("weight_t05"))
        .orderBy("source")),
      // domain mix: integer token sums then single divisions (exact for
      // weight_prop); the temperature weight is rounded to 6
      oracle =
        s"""WITH per AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum($tokSql) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1)
           |SELECT source, n_docs, n_tokens,
           |  CAST(n_tokens AS DOUBLE) / CAST((SELECT sum(n_tokens) FROM per) AS DOUBLE) AS weight_prop,
           |  round(sqrt(CAST(n_tokens AS DOUBLE))
           |        / (SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) FROM per), 6) AS weight_t05
           |FROM per ORDER BY source""".stripMargin),

    // temperature weights APPLIED (the q63 consumer): per-source integer
    // keep-thresholds sized for 300 expected rows mixed ∝ n_tokens^0.5,
    // deterministic md5 keep decision per row (the q22 cross-engine
    // bucket), post-sample mix under the gate. The engine path uses
    // xxhash64 buckets; this gate injects the md5 bucket so the oracle
    // can replay the WHOLE pipeline — weights, thresholds, filter — in SQL
    Q("q70_temperature_sample", ((s, dir) =>
      graft.etl.Sampling.temperatureSampleWith(
          t(s, dir, "documents"), "source", tokenCount(col("text")),
          tau = 0.5, targetRows = 300,
          bucket = graft.functions.TextFunctions.md5Bucket(col("doc_id"), 10000))
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")),
      // temperature sampling: weights -> thresholds -> md5-bucket filter,
      // arithmetic order mirrored exactly ((300 * (pow/sumpow)) / n_docs,
      // then floor(x * 10000)); pow(x, 0.5) on BOTH sides (not sqrt) so
      // the last-ulp behavior has the best chance of agreeing — and the
      // floor boundary sits ~1e-12 from any threshold, far beyond ulp noise
      oracle =
        s"""WITH per AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum($tokSql) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY 1),
           |thr AS (
           |  SELECT source,
           |    CAST(floor(least(1.0,
           |      (300.0 * (pow(CAST(n_tokens AS DOUBLE), 0.5)
           |        / (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) FROM per)))
           |      / CAST(n_docs AS DOUBLE)) * 10000) AS INTEGER) AS thr
           |  FROM per)
           |SELECT d.source, count(*) AS n
           |FROM documents d JOIN thr ON d.source = thr.source
           |WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000) < thr
           |GROUP BY 1 ORDER BY 1""".stripMargin),

    // sequence packing: docs -> fixed token-budget training chunks by
    // running token total per source shard (one keyed window shuffle,
    // never a global order); per-chunk doc/token counts under the gate
    Q("q56_seq_packing", ((s, dir) =>
      graft.etl.Packing.packSequential(t(s, dir, "documents"),
          tokenCount(col("text")), "source", "doc_id", 1000L)
        .groupBy("source", "chunk_id")
        .agg(count(lit(1)).as("n"),
          sum(tokenCount(col("text")).cast("long")).as("toks"))
        .orderBy("source", "chunk_id")),
      // chunk_id = floor(start_offset / budget) with start_offset = the
      // running token sum before this doc, same window both engines
      oracle =
        s"""SELECT source, CAST(floor(start_tok / 1000.0) AS BIGINT) AS chunk_id,
           | count(*) AS n, CAST(sum(tok) AS BIGINT) AS toks
           |FROM (SELECT source, tok,
           |        sum(tok) OVER (PARTITION BY source ORDER BY doc_id) - tok AS start_tok
           |      FROM (SELECT source, doc_id, $tokSql AS tok FROM documents))
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // distinct-count EXACT tier (the q78 gate; the HLL sketch +
    // mergeable-sketch tiers are the 100 TB path, spec-asserted within
    // rsd and union==single-pass in CardinalitySpec)
    Q("q78_cardinality", ((s, dir) =>
      graft.stats.Cardinality.exact(t(s, dir, "documents"), Seq("lang"), col("n_chars"))
        .orderBy("lang")),
      // exact tier of the dual-tier cardinality (sketch tier spec-gated)
      oracle =
        """SELECT lang, CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // A9 deterministic stratified sample (md5 bucket)
    Q("q22_det_sample", ((s, dir) =>
      t(s, dir, "documents")
        .filter(md5Bucket(col("doc_id"), 100) < 30)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),
      oracle =
        s"""SELECT lang, count(*) AS n FROM documents
           |WHERE $md5bucket < 30 GROUP BY 1 ORDER BY 1""".stripMargin),

    // F9 label remap via a literal map expression
    Q("q25_label_remap", ((s, dir) => {
      val remap = typedlit(Map(
        "en" -> "germanic", "de" -> "germanic",
        "fr" -> "romance", "es" -> "romance", "zh" -> "sinitic"))
      t(s, dir, "documents")
        .withColumn("family", element_at(remap, col("lang")))
        .groupBy("family").agg(count(lit(1)).as("n"))
        .orderBy("family")
    }),
      oracle =
        """SELECT CASE lang WHEN 'en' THEN 'germanic' WHEN 'de' THEN 'germanic'
          | WHEN 'fr' THEN 'romance' WHEN 'es' THEN 'romance'
          | WHEN 'zh' THEN 'sinitic' END AS family, count(*) AS n
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // S5/O3 skip-take (offset + limit under a total order)
    Q("q26_offset_limit", ((s, dir) =>
      t(s, dir, "events").orderBy("event_id").select("event_id", "event_type")
        .offset(100).limit(50)),
      oracle =
        "SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 50 OFFSET 100"),

    // windowed sessionization (lag + running sum), exact epoch outputs
    Q("q28_sessionize", ((s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(t(s, dir, "events"), gapMinutes = 30)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start").cast("timestamp").cast("long").as("start_s"),
          col("end").cast("timestamp").cast("long").as("end_s"))
        .orderBy("user_id", "session_id")),
      oracle =
        """WITH g AS (
          |  SELECT user_id, ts, event_id, value,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |      OR (epoch(ts) - epoch(lag(ts) OVER w)) * 1000 > 1800000
          |    THEN 1 ELSE 0 END AS new_session
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s AS (
          |  SELECT user_id, ts, event_id,
          |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM g)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
          |  CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
          |  CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
          |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // temporal range predicate (pushed to the parquet scan).
    // sum_price: the sum is computed EXACTLY as DECIMAL (order-independent
    // across partitions), then the single final value is cast to DOUBLE.
    // Emitting the DECIMAL itself failed the driver hash in r01/r02 because
    // the 'A' group sum (162446408.30) has trailing-zero cents and
    // Decimal/float stringify it differently across read paths.
    Q("q36_date_filter", ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00'") &&
          expr("l_shipdate < TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("l_returnflag")),
      oracle =
        """SELECT l_returnflag, count(*) AS n,
          | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // semi-structured column: JSON field extraction + aggregation
    Q("q37_json_extract", ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")),
      oracle =
        """SELECT event_type,
          | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          | count(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // A3/A4 global statistics (exact integer sums; mean as exact division)
    Q("q35_global_stats", ((s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("n"),
        sum(length(col("text"))).as("total_chars"),
        (sum(length(col("text"))) / count(lit(1))).as("mean_len"),
        sum(tokenCount(col("text"))).as("total_tokens"))),
      oracle =
        s"""SELECT count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS total_chars,
           | CAST(sum(length(text)) AS DOUBLE) / count(*) AS mean_len,
           | CAST(sum($tokSql) AS BIGINT) AS total_tokens
           |FROM documents""".stripMargin),
  )
}
