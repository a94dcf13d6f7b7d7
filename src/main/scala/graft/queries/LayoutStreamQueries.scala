package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Shared._

/** Layout, streaming and source queries: range, z-order and bucketed
  * layouts, compaction, chunking, Structured Streaming gates, Arrow IPC
  * and external-process sources. */
object LayoutStreamQueries {

  // memory-sink names must be unique per active query within a session
  private val streamQuerySeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Deterministic identity of a parquet file/dir's bytes-on-disk: the
    * cache key for fingerprint-resumed builds (q48/q59/q61) — regenerated
    * testdata invalidates it, repeated runs over the same files hit it.
    * Delegates to the one shared implementation (Hadoop-FS listing +
    * stat + head/tail content sample — see BuildCache's doc for the
    * stat-vs-content trade-off). */
  private def pathFingerprint(s: SparkSession, p: String): String =
    graft.etl.BuildCache.pathFingerprint(s, p)

  val all: Seq[Q] = Seq(
    // range-clustered LAYOUT end-to-end: documents rewritten
    // range-partitioned + sorted by doc_id (fingerprint-cached build,
    // like q48's bucketed tables), then a doc_id range query over the
    // layout — results must equal the same query on the raw table. The
    // layout's point (row-group pruning: >10x fewer rows surfaced by the
    // reader) is proven in LayoutSpec with task input metrics.
    Q("q59_range_layout", ((s, dir) => {
      val fp = pathFingerprint(s, s"$dir/documents.parquet")
      // cache dir keyed by SF basename (Verify sf0.01 / Bench sf0.1 must
      // not evict each other) AND the content fingerprint: fp-keyed dirs
      // are content-stable by construction, so two concurrent sessions on
      // the same input converge on the same bytes instead of racing a
      // cold rebuild's mode-overwrite delete against the other's read
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q59_${new java.io.File(dir).getName}_$fp").toString
      graft.etl.BuildCache.cachedBuild(s, path, fp) {
        graft.etl.Layout.writeRangeClustered(
          t(s, dir, "documents"), path, numFiles = 8, keys = Seq("doc_id"))
      }
      graft.etl.Layout.readRange(s, path, col("doc_id").between(50, 250))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    }),
      // layout changes row placement, never results: plain range query
      oracle =
        """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents WHERE doc_id BETWEEN 50 AND 250
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // small-file COMPACTION end-to-end: the documents table splintered
    // into 64 tiny files, bin-packed back by Layout.compact (coalesce, no
    // shuffle), then aggregated — results must equal the raw table. The
    // file-count delta (64 -> few) is asserted in SkewSpec; build is
    // fingerprint-cached like q48/q59.
    Q("q61_compaction", ((s, dir) => {
      val fp = pathFingerprint(s, s"$dir/documents.parquet")
      // SF basename + content fingerprint key — same rationale as q59
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q61_${new java.io.File(dir).getName}_$fp").toString
      val splintered = s"$base/in"
      val compacted = s"$base/out"
      graft.etl.BuildCache.cachedBuild(s, compacted, fp) {
        t(s, dir, "documents").repartition(64).write
          .mode("overwrite").parquet(splintered)
        graft.etl.Layout.compact(s, splintered, compacted)
        ()
      }
      s.read.parquet(compacted)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),
      // compaction repacks files, never rows
      oracle =
        """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Z-ORDER clustered layout: documents materialized Morton-sorted on
    // (doc_id, n_chars) — row groups cover small 2-D tiles so predicates
    // on EITHER dimension prune (LayoutSpec asserts input-rows reduction
    // on both); the layout changes row placement, never results, so the
    // oracle is the plain table query (the q59 stance). Build is
    // fingerprint-cached like q59/q61.
    Q("q76_zorder_layout", ((s, dir) => {
      val fp = pathFingerprint(s, s"$dir/documents.parquet")
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q76_${new java.io.File(dir).getName}_$fp").toString
      graft.etl.BuildCache.cachedBuild(s, path, fp) {
        graft.etl.Layout.writeZOrdered(t(s, dir, "documents"), path,
          numFiles = 8, colA = "doc_id", colB = "n_chars")
      }
      s.read.parquet(path)
        .filter(col("n_chars").between(200, 500) && col("doc_id").between(50, 350))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    }),
      // z-order changes row placement, never results (the q59 stance)
      oracle =
        """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents
          |WHERE n_chars BETWEEN 200 AND 500 AND doc_id BETWEEN 50 AND 350
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SLIDING-window chunking with overlap (width 40, stride 30 — the
    // RAG/long-context layout, within-doc counterpart of q56's
    // cross-doc packing): in-row windows, one posexplode, zero
    // shuffles; md5 byte parity per chunk.
    Q("q91_chunk_sliding", ((s, dir) =>
      graft.etl.Packing.chunkSliding(t(s, dir, "documents"), "text", "doc_id",
          width = 40, stride = 30)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),
      // sliding chunk layout: chunk count closed form, 1-based inclusive
      // list slices (40 elements per window, tail clamps), md5 parity
      oracle =
        """WITH b AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |n AS (SELECT doc_id, ws, len(ws) AS n FROM b WHERE len(ws) > 0),
          |c AS (SELECT doc_id, ws, n,
          |        CASE WHEN n <= 40 THEN 1
          |          ELSE CAST(ceil(CAST(n - 40 AS DOUBLE) / 30) AS INTEGER) + 1 END AS nc
          |      FROM n),
          |e AS (SELECT doc_id, ws, unnest(generate_series(0, nc - 1)) AS k FROM c),
          |ch AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
          |        ws[k*30 + 1 : k*30 + 40] AS chunk FROM e)
          |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS chunk_tokens,
          |  md5(array_to_string(chunk, ' ')) AS chunk_md5
          |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),

    // the SAME Gopher keep gate as a STREAM (AvailableNow replay of the
    // documents table): the quality filter is one Column expression, so
    // batch and Structured Streaming share it verbatim — the
    // incremental-ingest shape (today's crawl filtered as it lands).
    // Stateless filter -> append mode; oracle = the batch restatement.
    Q("q79_stream_quality", ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val path = s"$dir/documents.parquet"
      val schema = s.read.parquet(path).schema
      val stream = s.readStream.schema(schema).parquet(s"$dir/[d]ocuments.parquet")
      val kept = stream.select(col("doc_id"), col("lang"), gopherPlanted.as("t2"))
        .filter(graft.quality.GopherRules.keep(col("t2")))
        .select("doc_id", "lang")
      val qname = s"graft_q79_${streamQuerySeq.incrementAndGet()}"
      val q = kept.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qname).orderBy("doc_id")
    }),
      // the streaming keep gate equals the batch restatement: same
      // planting, same signal battery, filter on keep
      oracle =
        s"""WITH $gopherPlantedSql,
           |$gopherSignalsSql
           |SELECT doc_id, lang FROM k WHERE keep = 1 ORDER BY doc_id""".stripMargin),

    // §2.8 STREAMING under the driver gate: readStream over the events
    // table → watermarked 5-minute windowed counts → memory sink in
    // Complete mode (every window present at termination, so the batch
    // GROUP BY oracle applies exactly). AvailableNow processes the whole
    // table and terminates.
    Q("q44_stream_windowed", ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val path = s"$dir/events.parquet"
      val schema = s.read.parquet(path).schema
      // the table is a single parquet file; the file-stream source wants a
      // directory base, so address the file through a glob (the non-glob
      // prefix — the sf dir — becomes the base path)
      val stream = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
        // watermarks need an instant (TIMESTAMP), not NTZ; session TZ is UTC
        .withColumn("ts", col("ts").cast("timestamp"))
      val counts = graft.streaming.EventStream.windowedCounts(stream)
      val qname = s"graft_q44_${streamQuerySeq.incrementAndGet()}"
      // the stateful agg's result is tiny (windows x event types): 8 state
      // partitions instead of the session's cores*2=64 — the per-batch
      // fixed cost (state store open/commit/snapshot per partition) was
      // most of this gate's wall time, not the data
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        counts.writeStream.format("memory").queryName(qname)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      q.awaitTermination()
      s.table(qname)
        .select(col("window.start").cast("long").as("w_start"),
          col("event_type"), col("n"))
        .orderBy("w_start", "event_type")
    }),
      // streaming windowed counts == batch GROUP BY over aligned 5-minute
      // windows (Complete mode emits every window)
      oracle =
        """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS w_start,
          | event_type, count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // STREAMING EXACT DEDUP (dropDuplicatesWithinWatermark) replayed over
    // the events table: first arrival per fingerprint wins, later copies
    // drop. One AvailableNow batch means every key's state is live for
    // the whole replay (the initial watermark trails all data), so the
    // emitted set is EXACTLY the distinct fingerprints — an oracle a SQL
    // engine can restate; emitting only the fingerprint keeps the result
    // independent of which copy arrived first (arrival order inside a
    // batch is partition-order, not deterministic). Cross-batch state
    // retention + watermark TTL eviction are spec-gated (EventStreamSpec).
    Q("q69_stream_dedup", ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val path = s"$dir/events.parquet"
      val schema = s.read.parquet(path).schema
      val stream = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
        .withColumn("ts", col("ts").cast("timestamp"))
        // ~5 copies per key at sf0.01: every (event_type, user_id mod 100)
        .withColumn("fp",
          concat_ws(":", col("event_type"), (col("user_id") % 100).cast("string")))
        .select(col("fp"), col("ts"))
      val deduped = graft.streaming.EventStream.dedupStream(
        stream, "fp", "ts", delay = "10 minutes").select("fp")
      val qname = s"graft_q69_${streamQuerySeq.incrementAndGet()}"
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        deduped.writeStream.format("memory").queryName(qname)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      q.awaitTermination()
      s.table(qname).orderBy("fp")
    }),
      // streaming first-arrival dedup over one AvailableNow batch == the
      // distinct fingerprint set (state is live for the whole replay)
      oracle =
        """SELECT DISTINCT event_type || ':' || CAST(user_id % 100 AS VARCHAR) AS fp
          |FROM events ORDER BY fp""".stripMargin),

    // S4 LITERAL Arrow IPC scan: the documents table is round-tripped
    // through .arrow files (distributed one-file-per-partition write, then
    // a distributed IPC read) and aggregated — the oracle aggregates the
    // parquet twin, so the gate proves format fidelity, not just plumbing.
    Q("q46_arrow_scan", ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_arrow_q46").toString
      graft.sources.ArrowCorpus.write(t(s, dir, "documents"), tmp)
      // the fixture is read lazily, so it can't be deleted here — register
      // JVM-exit cleanup so repeated Verify/Bench runs don't grow /tmp
      locally {
        val d = new java.io.File(tmp)
        d.deleteOnExit()
        Option(d.listFiles()).foreach(_.foreach(_.deleteOnExit()))
      }
      graft.sources.ArrowCorpus.read(s, tmp)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),
      // arrow roundtrip must agree with the parquet twin exactly
      oracle =
        """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bucketed co-located join: both sides pre-bucketed by the join key
    // (one-time shuffle at write), then the join plans as a SortMergeJoin
    // over co-located sorted buckets with ZERO exchanges (BucketedSpec
    // asserts the plan) — the strategy for repeated fact-fact joins at
    // 100 TB. The gate checks result parity vs a plain re-shuffled join.
    // The bucketed builds are fingerprint-cached (keyed on the source
    // parquet files), so repeat Verify/Bench runs time the zero-exchange
    // READ path the layout exists for, not the one-time write.
    Q("q48_bucketed_join", ((s, dir) => {
      graft.etl.Bucketed.writeBucketedCached(
        t(s, dir, "orders").select("o_custkey", "o_totalprice"),
        "graft_q48_orders", "o_custkey", nBuckets = 16,
        fingerprint = pathFingerprint(s, s"$dir/orders.parquet"))
      graft.etl.Bucketed.writeBucketedCached(
        t(s, dir, "customer").select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "graft_q48_customer", "o_custkey", nBuckets = 16,
        fingerprint = pathFingerprint(s, s"$dir/customer.parquet"))
      graft.etl.Bucketed.coLocatedJoin(s, "graft_q48_orders", "graft_q48_customer", "o_custkey")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("c_nationkey")
    }),
      // co-located bucketed join must equal the plain shuffled join
      oracle =
        """SELECT c_nationkey, count(*) AS n,
          | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin),

    // P5 external-predictor harness: every document is piped through a
    // real subprocess (one per partition, JSON-lines lockstep protocol —
    // the reference's baseline-comparator idiom) and the response is
    // checked byte-for-byte against the request Spark-side; the oracle
    // pins echo_ok=true for every row. /bin/cat is the deterministic
    // stand-in predictor (no Node/hljs in this sandbox).
    Q("q47_external_predictor", ((s, dir) => {
      import s.implicits._
      import graft.sources.ExternalProcess
      val ds = t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      ExternalProcess.mapWithProcess(ds, Seq("/bin/cat"))
        .map { case (id, text, resp) =>
          (id, resp == s"""{"id":$id,"text":"${ExternalProcess.jsonEscape(text)}"}""")
        }
        .toDF("doc_id", "echo_ok")
        .orderBy("doc_id")
    }),
      // the real check is Spark-side (byte equality of subprocess echo vs
      // request); the oracle pins that every row round-tripped intact
      oracle =
        "SELECT doc_id, true AS echo_ok FROM documents ORDER BY doc_id"),
  )
}
