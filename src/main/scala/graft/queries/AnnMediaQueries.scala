package graft.queries

import org.apache.spark.sql.functions._

import Shared._

/** Embedding and multimodal queries: brute-force, int8, LSH and IVF nearest
  * neighbours, cosine near-dups, SemDeDup, media decoding and image/audio/
  * video near-dup pairs. */
object AnnMediaQueries {

  /** Sign-bit signature of column `v` under the seeded hyperplanes,
    * inlined as DOUBLE[] literals (round-trip exact). */
  private def sigExprSql(nBits: Int, seed: Long, dim: Int): String = {
    val planes = graft.sim.Ann.hyperplanes(dim, nBits, seed)
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${p.mkString("[", ",", "]")}) >= 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** LSH ANN restated in SQL: the deterministic hyperplanes (same
    * seed/dim as the Spark query) are inlined as DOUBLE[] literals;
    * DuckDB recomputes the sign-bit signature, the <=probeHamming
    * multi-probe filter, and the exact-cosine ranking. Double literals
    * round-trip exactly (shortest-repr toString, correctly-rounded parse),
    * so signatures are bit-identical across engines. */
  private def lshOracleSql(nBits: Int, seed: Long, dim: Int,
                           probeHamming: Int, k: Int): String = {
    val sigExpr = sigExprSql(nBits, seed, dim)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT vec_id, v, CAST($sigExpr AS BIGINT) AS s FROM e),
       |q AS (SELECT s AS qs, v AS qv FROM sig WHERE vec_id = 0)
       |SELECT vec_id, round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cos6
       |FROM sig WHERE vec_id <> 0
       |  AND bit_count(xor(s, (SELECT qs FROM q))) <= $probeHamming
       |ORDER BY list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  /** IVF ANN restated in SQL: same md5-ordered seed-row centroids, same
    * squared-L2 argmin assignment (list_position = first-index tie-break,
    * matching the stable sortBy in IvfIndex.nearestCentroids), same
    * two-probe selection (min + masked-min), same cosine ranking. */
  private def ivfOracleSql(nCentroids: Int, dim: Int, nProbe: Int, k: Int): String = {
    require(nProbe == 2, "the masked-min probe expansion below is written for nProbe=2")
    val masked =
      s"list_transform(generate_series(1, $nCentroids), i -> CASE WHEN i = p1 THEN 1e308 ELSE qds[i] END)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cid AS (SELECT vec_id FROM embeddings
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCentroids),
       |cent AS (SELECT list(v ORDER BY vec_id) AS cs FROM e
       |         WHERE vec_id IN (SELECT vec_id FROM cid)),
       |dist AS (SELECT vec_id, v,
       |  list_transform((SELECT cs FROM cent), c ->
       |    list_sum(list_transform(generate_series(1, $dim), i -> (v[i]-c[i])*(v[i]-c[i])))) AS ds
       |  FROM e),
       |assign AS (SELECT vec_id, v, list_position(ds, list_min(ds)) AS cl, ds FROM dist),
       |qq AS (SELECT v AS qv, ds AS qds, list_position(ds, list_min(ds)) AS p1
       |       FROM assign WHERE vec_id = 0),
       |pr AS (SELECT qv, p1, list_position($masked, list_min($masked)) AS p2 FROM qq)
       |SELECT vec_id, round(list_cosine_similarity(v, (SELECT qv FROM pr)), 6) AS cos6
       |FROM assign WHERE vec_id <> 0
       |  AND cl IN (SELECT p1 FROM pr UNION ALL SELECT p2 FROM pr)
       |ORDER BY list_cosine_similarity(v, (SELECT qv FROM pr)) DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  /** q88's deterministic output pinned as a literal table (no PNG codec
    * exists in SQL; the images are synthesized in-query, so unlike q20
    * this oracle is scale-independent). Exactly the 20 planted
    * noisy-copy pairs, zero false positives; perceptual semantics are
    * spec-gated in MultimodalSpec. */
  private def q88LiteralOracleSql: String = {
    val rows =
      "(0,1000,0),(10,1001,0),(20,1002,1),(30,1003,0),(40,1004,0),(50,1005,0)," +
      "(60,1006,0),(70,1007,1),(80,1008,0),(90,1009,0),(100,1010,0),(110,1011,0)," +
      "(120,1012,0),(130,1013,0),(140,1014,0),(150,1015,0),(160,1016,1),(170,1017,0)," +
      "(180,1018,0),(190,1019,0)"
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       | CAST(hamming AS INTEGER) AS hamming
       |FROM (VALUES $rows) AS t(id_a, id_b, hamming)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q89's deterministic output pinned as a literal table (the q88
    * stance — SQL has no WAV codec; scale-independent in-query synth). */
  private def q89LiteralOracleSql: String = {
    val rows =
      "(0,1000,0),(10,1001,0),(20,1002,0),(30,1003,0),(40,1004,0),(50,1005,0)," +
      "(60,1006,0),(70,1007,0),(80,1008,0),(90,1009,0)"
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       | CAST(hamming AS INTEGER) AS hamming
       |FROM (VALUES $rows) AS t(id_a, id_b, hamming)
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q90's deterministic output pinned as a literal table (the q88
    * stance — SQL has no GIF codec; scale-independent in-query synth). */
  private def q90LiteralOracleSql: String = {
    val rows = "(0,1000,1),(10,1001,0),(20,1002,2),(30,1003,0),(40,1004,1),(50,1005,0)"
    s"""SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       | CAST(hamming AS INTEGER) AS hamming
       |FROM (VALUES $rows) AS t(id_a, id_b, hamming)
       |ORDER BY id_a, id_b""".stripMargin
  }

  val all: Seq[Q] = Seq(
    // ANN brute-force cosine top-k to a fixed stored query vector
    Q("q18_ann_brute", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      graft.sim.Ann.bruteForceTopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", q, 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos6"))
    }),
      oracle =
        """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
          |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos6
          |FROM embeddings WHERE vec_id <> 0
          |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
          |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC, vec_id
          |LIMIT 10""".stripMargin),

    // ANN on int8-QUANTIZED vectors (4x memory/bandwidth vs float32 — at
    // 10^12 embeddings the vector bytes are the scan cost): symmetric
    // per-vector scale, floor(x/scale+0.5) codes, integer-dot cosine.
    // Oracle recomputes the identical quantization in SQL.
    Q("q50_ann_int8", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      graft.sim.Ann.int8TopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", q, 10)
        .select(col("vec_id"), round(col("icos"), 6).as("icos6"))
    }),
      // identical quantization restated in SQL: scale = maxAbs/127 (same
      // division order), floor(x/scale + 0.5) codes, dot/(|a||b|) in
      // double — all integer-valued math, so bit-exact across engines
      oracle =
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |        list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS sc
          |      FROM e),
          |c AS (SELECT vec_id,
          |        CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
          |             ELSE list_transform(v, x -> floor(x / sc + 0.5)) END AS cv
          |      FROM s),
          |qv AS (SELECT cv FROM c WHERE vec_id = 0),
          |r AS (SELECT vec_id,
          |        CASE WHEN list_inner_product(cv, cv) = 0
          |               OR (SELECT list_inner_product(cv, cv) FROM qv) = 0 THEN -1.0
          |             ELSE list_inner_product(cv, (SELECT cv FROM qv)) /
          |                  (sqrt(list_inner_product(cv, cv)) *
          |                   sqrt((SELECT list_inner_product(cv, cv) FROM qv))) END AS icos
          |      FROM c WHERE vec_id <> 0)
          |SELECT vec_id, round(icos, 6) AS icos6 FROM r
          |ORDER BY icos DESC, vec_id LIMIT 10""".stripMargin),

    // SemDeDup (embedding-cluster semantic dedup): deterministic seed-row
    // centroids (the q38 md5-ordered sample, so DuckDB can recompute
    // assignment exactly), within-cluster cosine >= 0.2 drops the
    // higher-id member; survivors under the gate. maxCluster never binds
    // at test scale (<= 5k embeddings vs the 100k default) so the oracle
    // omits the cap replication q42 needed for its 16-bucket setting.
    Q("q73_semdedup", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(8)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val index = graft.sim.Ann.IvfIndex(centroids)
      graft.sim.Ann.semDedup(emb, "embedding", "vec_id", index, threshold = 0.2)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),
      // SemDeDup: q38's deterministic centroid + assignment CTEs (same
      // squared-L2 expression, list_position first-min tie-break =
      // nearestCentroids' stable sort), q42's exact cosine expression
      // shape for the within-cluster drop decision
      oracle =
        """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |cid AS (SELECT vec_id FROM embeddings
          |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
          |cent AS (SELECT list(v ORDER BY vec_id) AS cs FROM e
          |         WHERE vec_id IN (SELECT vec_id FROM cid)),
          |assign AS (SELECT vec_id, label, v, list_position(ds, list_min(ds)) AS cl FROM (
          |  SELECT vec_id, label, v,
          |    list_transform((SELECT cs FROM cent), c ->
          |      list_sum(list_transform(generate_series(1, 64), i -> (v[i]-c[i])*(v[i]-c[i])))) AS ds
          |  FROM e)),
          |dropped AS (
          |  SELECT DISTINCT b.vec_id
          |  FROM assign a JOIN assign b ON a.cl = b.cl AND a.vec_id < b.vec_id
          |  WHERE (CASE WHEN list_inner_product(a.v, a.v) = 0.0
          |                OR list_inner_product(b.v, b.v) = 0.0 THEN -1.0
          |         ELSE list_inner_product(a.v, b.v) /
          |              (sqrt(list_inner_product(a.v, a.v)) *
          |               sqrt(list_inner_product(b.v, b.v))) END) >= 0.2)
          |SELECT vec_id, label FROM e
          |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
          |ORDER BY vec_id""".stripMargin),

    // IMAGE near-dup pairs: dHash perceptual fingerprints over REAL
    // JDK-decoded PNGs (200 deterministic pseudo-random images + 20
    // noisy copies of every 10th), paired by the shared 16-bit-band +
    // Hamming engine. Deterministic end-to-end, so the oracle is the
    // pinned literal output (the q20 stance — no PNG codec in SQL);
    // perceptual semantics are spec-gated in MultimodalSpec.
    Q("q88_image_dup_pairs", ((s, dir) => {
      import s.implicits._
      val originals = s.range(0, 200).map(i => graft.mm.Multimodal.synthNoisePng(i))
      val dups = s.range(0, 20).map(i =>
        graft.mm.Multimodal.synthNoisePng(1000L + i, baseId = i * 10, noisePixels = 5))
      graft.mm.Multimodal.imageDupPairs(s, originals.union(dups), maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),
      oracle = q88LiteralOracleSql),

    // AUDIO near-dup pairs: bucket-energy fingerprints over REAL WAV
    // decode (100 deterministic clips + 10 damaged copies of every
    // 10th), the same banding/Hamming engine and literal-oracle stance
    // as q88 — the third modality of the dedup family.
    Q("q89_audio_dup_pairs", ((s, dir) => {
      import s.implicits._
      val originals = s.range(0, 100).map(i => graft.mm.Multimodal.synthNoiseWav(i))
      val dups = s.range(0, 10).map(i =>
        graft.mm.Multimodal.synthNoiseWav(1000L + i, baseId = i * 10, noiseSamples = 10))
      graft.mm.Multimodal.audioDupPairs(s, originals.union(dups), maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),
      oracle = q89LiteralOracleSql),

    // VIDEO near-dup pairs (GIF container — the q54 stance): per-frame
    // dHash combined by per-bit frame majority, the same engine and
    // literal-oracle stance as q88/q89 — the dedup family's fourth and
    // final modality.
    Q("q90_video_dup_pairs", ((s, dir) => {
      import s.implicits._
      val originals = s.range(0, 60).map(i => graft.mm.Multimodal.synthNoiseGif(i))
      val dups = s.range(0, 6).map(i =>
        graft.mm.Multimodal.synthNoiseGif(1000L + i, baseId = i * 10, noisePixels = 6))
      graft.mm.Multimodal.videoDupPairs(s, originals.union(dups), maxHamming = 8)
        .orderBy("id_a", "id_b")
    }),
      oracle = q90LiteralOracleSql),

    // LSH ANN (recall vs brute-force is asserted in tests)
    Q("q21_ann_lsh", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      graft.sim.Ann.lshTopK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", q,
        k = 10, nBits = 8, seed = 42L, probeHamming = 2)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos6"))
    }),
      // LSH ANN restated in SQL: the seeded hyperplanes are inlined as
      // double literals, the signature/probe/rank pipeline recomputed by
      // DuckDB (real semantic oracle, not a pinned output).
      oracle = lshOracleSql(nBits = 8, seed = 42L, dim = 64, probeHamming = 2, k = 10)),

    // IVF ANN: seed-row centroids (deterministic md5-ordered sample — the
    // standard random-sample centroid init, made replicable so the DuckDB
    // oracle can recompute assignment + probe exactly) + probe-restricted
    // ranking. The distributed KMeans fit path (Ann.ivfFit) is spec-gated
    // in AnnSpec; this query pins the IVF assign/probe/rank semantics.
    Q("q38_ann_ivf", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val centroids = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(8)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val index = graft.sim.Ann.IvfIndex(centroids)
      val indexed = graft.sim.Ann.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", index)
      graft.sim.Ann.ivfTopK(indexed, "embedding", "vec_id", index, q, k = 10, nProbe = 2)
        .select(col("vec_id"), round(col("cosine"), 6).as("cos6"))
    }),
      // IVF restated in SQL: same md5-ordered seed centroids, same squared-
      // L2 argmin assignment (first-index tie-break via list_position),
      // same 2-probe selection, same cosine ranking.
      oracle = ivfOracleSql(nCentroids = 8, dim = 64, nProbe = 2, k = 10)),

    // embedding-cosine near-dup pairs: LSH-bucketed candidates (seeded
    // hyperplanes), exact double-cosine verify, hot-bucket cap. Oracle
    // replicates the bucket assignment with plane literals (q21 technique)
    // and the cosine in the same double expression shape.
    // nBits=4/signatures=1 (16 buckets, single signature) is an
    // ORACLE-ONLY setting so DuckDB can restate the join tractably at
    // sf0.01 — the operator defaults are 10 bits x 4 OR-amplified
    // signatures (AnnSpec gates recall at those settings); with 16 buckets
    // and the 1000-row bucket cap, recall degrades observably (via the
    // cosine_dup_caps metric) on any corpus >16k rows. Not a recommended
    // production config.
    Q("q42_cosine_dups", ((s, dir) =>
      graft.sim.Ann.cosineDupPairs(t(s, dir, "embeddings"), "embedding", "vec_id",
          threshold = 0.2, nBits = 4, seed = 42L, dim = 64, signatures = 1)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cos6"))
        .orderBy("id_a", "id_b")),
      // cosine dup pairs: same plane-literal signature join + the cosine
      // in the same double expression shape (dot / (normA * normB)).
      oracle = {
        val sigExpr = sigExprSql(nBits = 4, seed = 42L, dim = 64)
        val cos =
          """(CASE WHEN list_inner_product(a.v, a.v) = 0.0 OR list_inner_product(b.v, b.v) = 0.0
            |  THEN -1.0
            |  ELSE list_inner_product(a.v, b.v) /
            |       (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) END)""".stripMargin
        // the engine caps hot buckets at 1000 rows (min-id kept); replicate
        // the cap here so both sides compute the SAME candidate set at any
        // scale, not just while every sf0.01 bucket happens to be < 1000
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |sig AS (SELECT vec_id, v, CAST($sigExpr AS BIGINT) AS s FROM e),
           |capped AS (SELECT vec_id, v, s FROM (
           |  SELECT vec_id, v, s,
           |         row_number() OVER (PARTITION BY s ORDER BY vec_id) AS bn
           |  FROM sig) WHERE bn <= 1000)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cos, 6) AS cos6
           |FROM capped a JOIN capped b ON a.s = b.s AND a.vec_id < b.vec_id
           |WHERE $cos >= 0.2
           |ORDER BY id_a, id_b""".stripMargin
      },
      pin = Some("sf0.01")),

    // multimodal binary columns: synth -> decode stub -> typed metadata agg
    Q("q30_mm_decode", ((s, dir) => {
      val blobs = graft.mm.Multimodal.synth(s, 2000)
      graft.mm.Multimodal.decodeAll(s, blobs).toDF()
        .groupBy("modality").agg(count(lit(1)).as("n"),
          sum(col("width").cast("long")).as("sum_w"),
          sum(col("durationMs").cast("long")).as("sum_dur"),
          sum(col("valid").cast("long")).as("n_valid"))
        .orderBy("modality")
    }),
      // fully deterministic synthetic blobs (seeded splitmix64 headers):
      // the aggregate is a constant — pinned as a literal table, values
      // independently recomputed (python replication of mix64) and equal.
      oracle =
        """SELECT modality, CAST(n AS BIGINT) AS n, CAST(sum_w AS BIGINT) AS sum_w,
          | CAST(sum_dur AS BIGINT) AS sum_dur, CAST(n_valid AS BIGINT) AS n_valid
          |FROM (VALUES ('audio', 667, 386493, 19371051, 667),
          |             ('image', 667, 387527, 18790507, 667),
          |             ('video', 666, 381411, 18183587, 666))
          | AS t(modality, n, sum_w, sum_dur, n_valid)
          |ORDER BY modality""".stripMargin,
      pin = Some("sf0.01")),

    // REAL image codec under the gate: deterministic grayscale PNGs are
    // encoded AND decoded distributed via the JDK's javax.imageio; PNG is
    // lossless, so the decoded pixel sum is restated as pure arithmetic
    // in the oracle — this gates an actual codec roundtrip, not plumbing
    Q("q53_mm_image_roundtrip", ((s, dir) =>
      graft.mm.Multimodal.decodeImages(s, graft.mm.Multimodal.synthPngs(s, 200))
        .toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("gray_sum"), col("valid"))
        .orderBy("media_id")),
      // the synthPng pattern pixel(x,y) = (x*7+y*13+id*31) mod 256 restated
      // as arithmetic over pixel coordinates (generate_series is INCLUSIVE
      // of its upper bound in DuckDB, hence the -1s)
      oracle =
        """WITH imgs AS (
          |  SELECT i, 16 + i % 8 AS w, 16 + (i // 8) % 8 AS h
          |  FROM generate_series(0, 199) AS t(i)),
          |px AS (SELECT x FROM generate_series(0, 22) AS gx(x)),
          |py AS (SELECT y FROM generate_series(0, 22) AS gy(y))
          |SELECT i AS media_id, 'png' AS format,
          | CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
          | CAST(sum((x * 7 + y * 13 + i * 31) % 256) AS BIGINT) AS gray_sum,
          | TRUE AS valid
          |FROM imgs, px, py WHERE x < w AND y < h
          |GROUP BY i, w, h ORDER BY media_id""".stripMargin),

    // REAL frame sampling under the gate: every 2nd frame of deterministic
    // animated GIFs, written AND decoded distributed via javax.imageio;
    // indices pass through the gray palette unchanged, so per-frame pixel
    // sums are again pure arithmetic in the oracle
    Q("q54_mm_frame_sample", ((s, dir) =>
      graft.mm.Multimodal.frameSampleAll(s, graft.mm.Multimodal.synthGifs(s, 60), 2)
        .toDF()
        .orderBy("media_id", "frame_idx")),
      // synthGif frame pattern (x*7 + y*13 + i*31 + f*17) mod 256 restated
      // over a (video x frame x pixel) grid; f % 2 = 0 is the everyN=2 sample
      oracle =
        """WITH vids AS (
          |  SELECT i, 12 + i % 6 AS w, 10 + (i // 6) % 6 AS h, 3 + i % 5 AS nf
          |  FROM generate_series(0, 59) AS t(i)),
          |fr AS (SELECT f FROM generate_series(0, 7) AS gf(f)),
          |px AS (SELECT x FROM generate_series(0, 16) AS gx(x)),
          |py AS (SELECT y FROM generate_series(0, 14) AS gy(y))
          |SELECT i AS media_id, CAST(f AS INTEGER) AS frame_idx,
          | CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
          | CAST(sum((x * 7 + y * 13 + i * 31 + f * 17) % 256) AS BIGINT) AS gray_sum
          |FROM vids, fr, px, py
          |WHERE f < nf AND f % 2 = 0 AND x < w AND y < h
          |GROUP BY i, f, w, h ORDER BY media_id, frame_idx""".stripMargin),
  )
}
