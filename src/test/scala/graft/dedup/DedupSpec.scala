package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{functions => F}

import graft.SparkTestSession

class DedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def doc(i: Int, words: Seq[String]): (Long, String) = (i.toLong, words.mkString(" "))

  private val base = (0 until 40).map(i =>
    doc(i, (0 until 30).map(j => s"w${(Dedup.mix64(i * 1000L + j) & Long.MaxValue) % 100000}")))

  test("minhash signature approximates jaccard") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val c = "completely different words entirely unrelated content goes right here now"
    val sa = Dedup.minhashSignature(a, 3, 64)
    val sb = Dedup.minhashSignature(b, 3, 64)
    val sc = Dedup.minhashSignature(c, 3, 64)
    def est(x: Array[Long], y: Array[Long]) =
      x.zip(y).count { case (p, q) => p == q }.toDouble / x.length
    val jAb = Dedup.jaccard(a, b, 3)
    assert(math.abs(est(sa, sb) - jAb) < 0.25)
    assert(est(sa, sc) < 0.15)
    assert(Dedup.jaccard(a, a, 3) == 1.0)
  }

  test("minhash LSH finds planted near-duplicates without false positives") {
    import spark.implicits._
    // plant: doc i and i+1000 are near-identical (one word changed)
    val dups = base.take(10).map { case (id, text) =>
      (id + 1000, text.replaceFirst("w\\d+", "changed")) }
    val df = (base ++ dups).toDF("id", "text")
    val pairs = Dedup.minhashDupPairs(df, "text", "id", w = 3, k = 32,
      bands = 16, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 10).map(i => (i.toLong, i + 1000L)).toSet
    assert(expected.subsetOf(pairs), s"missing ${expected -- pairs}")
    // no unrelated base pair should appear
    assert(!pairs.exists { case (a, b) => a < 1000 && b < 1000 })
  }

  test("simhash: near-identical docs within small hamming distance") {
    val a = (0 until 50).map(i => s"tok$i").mkString(" ")
    val b = (0 until 50).map(i => if (i == 7) "other" else s"tok$i").mkString(" ")
    val ha = java.lang.Long.bitCount(Dedup.simhash(a) ^ Dedup.simhash(b))
    assert(ha <= 10, s"hamming $ha")
    val c = (100 until 150).map(i => s"z$i").mkString(" ")
    assert(java.lang.Long.bitCount(Dedup.simhash(a) ^ Dedup.simhash(c)) > 10)
  }

  test("minhash banded exchange carries ids only — never the text column") {
    import spark.implicits._
    val df = base.toDF("id", "text")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // plain physical tree (AQE wraps it in an adaptive root that hides
      // the exchanges from collect)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val pairs = Dedup.minhashDupPairs(df, "text", "id", w = 3, k = 32,
        bands = 16, threshold = 0.5)
      val exchanges = pairs.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val bandedExchanges = exchanges.filter(_.output.exists(_.name == "bucket"))
      assert(bandedExchanges.nonEmpty, "expected band/bucket exchanges in the plan")
      bandedExchanges.foreach { e =>
        val stringCols = e.output.filter(
          _.dataType == org.apache.spark.sql.types.StringType).map(_.name)
        assert(stringCols.isEmpty,
          s"banded exchange must not shuffle text, found: $stringCols")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("simhash LSH recall: planted one-word-changed dups are recovered") {
    import spark.implicits._
    // simhash targets long-document near-dups: one changed word out of 120
    // flips only a couple of signature bits (a 30-word doc flips too many —
    // that regime belongs to minhash)
    val longDocs = (0 until 20).map(i =>
      doc(i, (0 until 120).map(j => s"w${(Dedup.mix64(i * 7000L + j) & Long.MaxValue) % 100000}")))
    val dups = longDocs.map { case (id, text) =>
      (id + 1000, text.replaceFirst("w\\d+", "changed")) }
    val df = (longDocs ++ dups).toDF("id", "text")
    val pairs = Dedup.simhashDupPairs(df, "text", "id", maxHamming = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (i.toLong, i + 1000L)).toSet
    val recall = planted.intersect(pairs).size.toDouble / planted.size
    assert(recall >= 0.9, s"recall $recall, found ${planted.intersect(pairs).size}/20")
  }

  test("simhash hot-bucket cap bounds the quadratic blowup on degenerate corpora") {
    import spark.implicits._
    // 60 identical texts: all four 16-bit bands collide in one bucket
    val degenerate = (0 until 60).map(i => (i.toLong, "same text every single row here"))
    val df = degenerate.toDF("id", "text")
    val capped = Dedup.simhashDupPairs(df, "text", "id", maxHamming = 6, maxBucket = 10)
    // cap keeps the 10 smallest ids per (band, bucket): at most C(10,2) pairs
    val n = capped.count()
    assert(n == 45L, s"expected C(10,2)=45 capped pairs, got $n")
    val uncapped = Dedup.simhashDupPairs(df, "text", "id", maxHamming = 6, maxBucket = 1000)
    assert(uncapped.count() == 60L * 59 / 2)
  }

  test("exact dedup keeps exactly one row per fingerprint (min id)") {
    import spark.implicits._
    val df = (base ++ base.map { case (id, t) => (id + 500, t) }).toDF("id", "text")
    val out = Dedup.exact(df, "text", "id")
    assert(out.count() == base.size)
    assert(out.agg(F.max("id")).head().getLong(0) < 500, "must keep the min-id copy")
  }

  test("exact dedup plan: map-side partial aggregate before the exchange, no Window") {
    import spark.implicits._
    val df = base.toDF("id", "text")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = Dedup.exact(df, "text", "id").queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "exact dedup must not sort full rows through a Window")
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.size == 1, s"expected one exchange, got ${exchanges.size}")
      // the exchange's child must already be a partial HashAggregate:
      // co-located duplicates collapse BEFORE any bytes hit the wire
      val partialAggBelow = exchanges.head.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(partialAggBelow.nonEmpty,
        s"expected partial aggregate below the exchange:\n${plan.treeString}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("components: clusters, chains, and singleton exclusion") {
    import spark.implicits._
    // two triangles-ish clusters, one pair, and a 13-node chain (12 hops —
    // exercises multi-round propagation well past diameter 1)
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L)) ++
      (100L until 112L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val got = Dedup.components(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1) == 1 && got(2) == 1 && got(3) == 1)
    assert(got(10) == 10 && got(11) == 10)
    assert(got(20) == 20 && got(21) == 20 && got(22) == 20)
    (100L to 112L).foreach(i => assert(got(i) == 100L, s"chain node $i -> ${got(i)}"))
    assert(got.size == 3 + 2 + 3 + 13, "only nodes appearing in pairs are emitted")
  }

  test("components converges on a chain far beyond maxIter via pointer jumping") {
    import spark.implicits._
    // a 201-node chain (diameter 200 >> maxIter=25): plain hash-min
    // propagation needs 200 rounds; pointer jumping doubles the reach per
    // round from round 3 on, so this converges in O(log 200) rounds
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 201 && got.forall(_._2 == 0L),
      "every chain node must reach label 0")
  }

  test("components reliable=true: identical labels via fault-tolerant checkpoints") {
    import spark.implicits._
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (100L until 112L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    // no checkpoint dir configured -> loud failure, not a silent fallback
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    intercept[IllegalArgumentException] {
      Dedup.components(pairs, reliable = true)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {
      sc.setCheckpointDir(dir)
      val viaReliable = Dedup.components(pairs, reliable = true).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val viaLocal = Dedup.components(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaReliable == viaLocal, "checkpoint mode must not change labels")
      // and the rounds actually wrote through the reliable dir
      assert(graft.etl.BuildCache.listDataFiles(spark, dir).nonEmpty,
        "reliable mode must materialize RDD checkpoints in the configured dir")
    } finally {
      // a SparkContext has no unsetCheckpointDir; point it at a throwaway
      // so later suites aren't affected, then clean up
      sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-ckpt2").toString)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("decontaminate scales to a multi-million-shingle benchmark (primitive broadcast)") {
    import spark.implicits._
    // benchmark: 200 docs x ~5000 words -> ~1M distinct 8-gram shingles,
    // built from a disjoint token space so only the planted doc overlaps
    val benchTexts = (0 until 200).map(i =>
      (0 until 5000).map(j => s"b${(Dedup.mix64(i * 100000L + j) & Long.MaxValue) % 10000000}")
        .mkString(" "))
    // corpus doc 0 embeds an 8-word window of benchmark doc 0; others don't
    val window = benchTexts.head.split(" ").slice(100, 108).mkString(" ")
    val corpus = ((0L, s"prefix words here $window suffix words") +:
      base.map { case (id, t) => (id + 1, t) }).toDF("id", "text")
    val bench = benchTexts.toDF("btext")
    val out = Dedup.decontaminate(corpus, "text", "id", bench, "btext", w = 8)
    val ids = out.collect().map(_.getLong(0)).toSet
    assert(!ids(0L), "the doc sharing an 8-gram with the benchmark must drop")
    assert(ids.size == base.size, "all clean docs survive")
  }

  test("components handles a hot-key star graph (skew shape) in two rounds") {
    import spark.implicits._
    // one hub connected to 3000 spokes — the worst-skew pair list a
    // degenerate near-dup corpus can produce (all shuffles key on the hub)
    val pairs = (1 to 3000).map(i => (0L, i.toLong)).toDF("id_a", "id_b")
    val labels = Dedup.components(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 3001 && labels.forall(_._2 == 0L),
      "every spoke joins the hub's component")
  }

  test("dropNearDups removes planted mutants, keeps originals and non-dups") {
    import spark.implicits._
    val dups = base.take(10).map { case (id, text) =>
      (id + 1000, text.replaceFirst("w\\d+", "changed")) }
    val df = (base ++ dups).toDF("id", "text")
    val survivors = Dedup.dropNearDups(df, "text", "id", w = 3, k = 32,
      bands = 16, threshold = 0.5).collect().map(_.getLong(0)).toSet
    assert((0 until 40).forall(i => survivors(i.toLong)), "all originals survive")
    assert((0 until 10).forall(i => !survivors(i + 1000L)),
      s"planted mutants must be dropped, got ${survivors.filter(_ >= 1000)}")
  }

  test("dropByPairs works with any pair detector (simhash) and broadcasts the anti-join") {
    import spark.implicits._
    val dups = base.take(10).map { case (id, text) =>
      (id + 1000, text.replaceFirst("w\\d+", "changed")) }
    val df = (base ++ dups).toDF("id", "text")
    val pairs = Dedup.simhashDupPairs(df, "text", "id", maxHamming = 10)
      .localCheckpoint(true)
    // expected losers derived from the detector's OWN pair output, so this
    // gates dropByPairs semantics (cluster -> keep min-id), not recall
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
    val expectedLosers = nodes.filter(n => find(n) != n)
    assert(edges.nonEmpty && expectedLosers.exists(_ >= 1000L),
      "fixture must plant at least one detectable mutant")
    val result = Dedup.dropByPairs(df, pairs, "id")
    val survivors = result.collect().map(_.getLong(0)).toSet
    assert(survivors == df.collect().map(_.getLong(0)).toSet.diff(expectedLosers),
      s"survivors must be corpus minus non-canonical members, got $survivors")
    // the tiny loser set must reach the corpus as a BROADCAST anti-join
    // (AQE runtime conversion), never a shuffled one
    val planStr = result.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin") && planStr.contains("LeftAnti"),
      s"expected broadcast left-anti join in final plan:\n$planStr")
  }

  test("decontaminate drops exactly the docs sharing an 8-gram with the benchmark, shuffle-free") {
    import spark.implicits._
    val corpus = base.toDF("id", "text")
    // benchmark = a 10-word window from docs 0..4 -> 3 overlapping 8-grams each
    val bench = base.take(5)
      .map { case (_, text) => text.split(" ").slice(2, 12).mkString(" ") }
      .toDF("btext")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = Dedup.decontaminate(corpus, "text", "id", bench, "btext", w = 8)
      val ids = out.collect().map(_.getLong(0)).toSet
      assert(ids == (5 until 40).map(_.toLong).toSet,
        s"docs 0..4 are contaminated, rest survive; got $ids")
      // the corpus side is ONE scan + filter: zero exchanges
      val exchanges = out.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, "decontamination must not shuffle the corpus")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // the size-guard trip is a DEDICATED type (still an IAE for old
    // callers): CorpusPrep's auto-fallback catches exactly this...
    intercept[Dedup.BenchmarkTooLargeException] {
      Dedup.decontaminate(corpus, "text", "id", bench, "btext", w = 8,
        maxBenchShingles = 1)
    }
    // ...while a genuine argument bug raises a PLAIN IAE that the
    // fallback must NOT swallow — the two are distinguishable by type
    val plain = intercept[IllegalArgumentException] {
      Dedup.decontaminate(corpus, "text", "id", bench, "btext", w = 0)
    }
    assert(!plain.isInstanceOf[Dedup.BenchmarkTooLargeException])
  }

  test("jaccard merge-count kernel: parity with boxed-set math, no input mutation") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 500) {
      // small value range -> dense duplicates and overlaps
      val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(20).toLong)
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(20).toLong)
      val sa = a.toSet
      val sb = b.toSet
      val un = (sa ++ sb).size
      val setJ = if (un == 0) 1.0 else sa.intersect(sb).size.toDouble / un
      assert(Dedup.jaccardOfHashes(a, b) == setJ)
      assert(Dedup.jaccardOfSortedDistinct(
        Dedup.sortedDistinct(a), Dedup.sortedDistinct(b)) == setJ)
    }
    val orig = Array(5L, 3L, 5L, 1L)
    val copy = orig.clone()
    assert(Dedup.sortedDistinct(orig).sameElements(Array(1L, 3L, 5L)))
    assert(orig.sameElements(copy), "sortedDistinct must not mutate its input")
  }

  test("boilerplate-line removal: both tiers agree, guard trips, order survives") {
    import spark.implicits._
    // 20 docs of 3 unique lines each; 12 carry a shared footer and 8 a
    // shared header — both cross the docFreq>=5 bar, placed at DIFFERENT
    // positions so the ordered rebuild is actually exercised
    val docs = (0 until 20).map { i =>
      val body = (0 until 3).map(j => s"unique line $i-$j.").mkString("\n")
      val withFooter = if (i % 2 == 0 || i % 3 == 0) body + "\nCOMMON FOOTER" else body
      val t = if (i < 8) "COMMON HEADER\n" + withFooter else withFooter
      (i.toLong, t)
    }.toDF("id", "text")
    def strip(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(r.fieldIndex("id")) ->
        r.getString(r.fieldIndex("text"))).toMap
    val viaBroadcast = strip(Dedup.dropBoilerplateLines(docs, "text", "id", minDocFreq = 5))
    val viaJoin = strip(Dedup.dropBoilerplateLinesJoin(docs, "text", "id", minDocFreq = 5))
    assert(viaBroadcast == viaJoin, "tiers must be result-identical")
    assert(viaBroadcast(0L) == "unique line 0-0.\nunique line 0-1.\nunique line 0-2.",
      s"header AND footer removed, body order intact: ${viaBroadcast(0L)}")
    assert(viaBroadcast.values.forall(t =>
      !t.contains("COMMON FOOTER") && !t.contains("COMMON HEADER")))
    assert(viaBroadcast.values.count(_.nonEmpty) == 20, "no doc drops, only line edits")
    // broadcast guard: every line frequent + tiny cap -> loud failure
    val degenerate = (0 until 10).map(i => (i.toLong, "same\nlines\neverywhere")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      Dedup.dropBoilerplateLines(degenerate, "text", "id", minDocFreq = 5,
        maxFrequentLines = 2)
    }
    // broadcast-tier plan: the frequent-hash set is collected eagerly
    // (its one groupBy shuffle runs at call time, over 8-byte keys) and
    // ships as a broadcast VARIABLE, so the returned rewrite plan is a
    // pure narrow map over the corpus — ZERO exchanges of any kind
    val plan = Dedup.dropBoilerplateLines(docs, "text", "id", minDocFreq = 5)
      .queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, s"the rewrite must be exchange-free, got:\n$plan")
  }

  test("boilerplate broadcast probe is sublinear: large frequent set, exact result") {
    import spark.implicits._
    // 2,000 distinct frequent lines (each in 6 docs) — the old
    // array_contains probe pays 2,000 string compares per line; the
    // binary-search probe pays 11. Result must still byte-match the
    // join tier.
    val frequent = (0 until 2000).map(i => s"boilerplate nav item $i")
    val docs = (0 until 120).map { d =>
      val body = s"real content of doc $d"
      // each doc carries one contiguous 100-line block; 20 distinct block
      // starts x 6 docs each -> every frequent line is in exactly 6 docs
      val noise = (0 until 100).map(k => frequent((d * 100 + k) % 2000))
      (d.toLong, (noise.take(50) ++ Seq(body) ++ noise.drop(50)).mkString("\n"))
    }.toDF("id", "text")
    def strip(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(r.fieldIndex("id")) ->
        r.getString(r.fieldIndex("text"))).toMap
    val viaBroadcast = strip(Dedup.dropBoilerplateLines(docs, "text", "id", minDocFreq = 6))
    val viaJoin = strip(Dedup.dropBoilerplateLinesJoin(docs, "text", "id", minDocFreq = 6))
    assert(viaBroadcast == viaJoin)
    assert(viaBroadcast(0L) == "real content of doc 0",
      s"all 100 frequent lines removed: ${viaBroadcast(0L)}")
  }

  test("decontaminateJoin is result-identical to the broadcast path (any-size tier)") {
    import spark.implicits._
    val corpus = base.toDF("id", "text")
    val bench = base.take(5)
      .map { case (_, text) => text.split(" ").slice(2, 12).mkString(" ") }
      .toDF("btext")
    val viaBroadcast = Dedup.decontaminate(corpus, "text", "id", bench, "btext", w = 8)
      .collect().map(_.getLong(0)).toSet
    val viaJoin = Dedup.decontaminateJoin(corpus, "text", "id", bench, "btext", w = 8)
      .collect().map(_.getLong(0)).toSet
    assert(viaJoin == viaBroadcast, s"join path must match broadcast path")
    assert(viaJoin == (5 until 40).map(_.toLong).toSet)
  }

  test("cacheShingles=true tokenizes each text exactly once (single text scan)") {
    import spark.implicits._
    val sc = spark.sparkContext
    def runWith(cache: Boolean): Long = {
      val calls = sc.longAccumulator(s"textReads_$cache")
      val reader = F.udf { (t: String) => calls.add(1); t }
      val df = base.toDF("id", "raw").withColumn("text", reader(F.col("raw")))
      Dedup.minhashDupPairs(df, "text", "id", w = 3, k = 32, bands = 16,
        threshold = 0.5, cacheShingles = cache).count()
      calls.value
    }
    val withCache = runWith(cache = true)
    val without = runWith(cache = false)
    assert(withCache == base.size.toLong,
      s"cached run must read each text once, read $withCache for ${base.size} rows")
    assert(without > withCache, s"uncached run re-reads text ($without reads)")
  }

  test("decontaminateBloom: identical to both exact tiers even at fpp=0.5 (prefilter never decides)") {
    import spark.implicits._
    val corpus = base.toDF("id", "text")
    // benchmark = a 10-word window of doc 3 -> exactly doc 3 shares an 8-gram
    val bench = Seq(base(3)._2.split(" ").slice(2, 12).mkString(" ")).toDF("btext")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    val exact = ids(Dedup.decontaminate(corpus, "text", "id", bench, "btext", w = 8))
    val join = ids(Dedup.decontaminateJoin(corpus, "text", "id", bench, "btext", w = 8))
    // fpp=0.5 floods the prefilter with false positives; the exact confirm
    // join must still produce the identical survivor set
    val bloom = ids(Dedup.decontaminateBloom(corpus, "text", "id", bench, "btext",
      w = 8, fpp = 0.5))
    assert(exact == join)
    assert(bloom == exact, "bloom tier must agree bit-for-bit with the exact tiers")
    assert(!bloom.contains(3L) && bloom.size == base.size - 1)
  }

  test("dedupLinesKeepFirst: global first occurrence survives, later and within-doc repeats removed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common line\nunique one\ncommon line"), // within-doc repeat too
      (2L, "common line\nunique two"),
      (3L, "common line")                           // everything already seen
    ).toDF("id", "text")
    val out = Dedup.dedupLinesKeepFirst(docs, "text", "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "common line\nunique one")
    assert(out(2L) == "unique two")
    assert(out(3L) == "", "doc whose every line was seen before becomes empty, not dropped")
  }

  test("dupSpanStats: fixed-width interval coverage — isolated, repeated, overlapping and short docs") {
    import spark.implicits._
    val w8 = (1 to 8).map(i => s"w$i").mkString(" ")          // shared 8-gram
    val docs = Seq(
      (1L, w8 + " x1 x2"),                                    // dup gram at pos 0: 8 of 10
      (2L, w8 + " y1 y2"),                                    // same: 8 of 10
      (3L, "p q r s t u v k p q r s t u v k"),                // self-repeat at pos 0+8: 16 of 16
      (4L, (1 to 11).map(i => s"z$i").mkString(" ")),         // all grams dup vs doc 5
      (5L, (1 to 11).map(i => s"z$i").mkString(" ")),         //   -> overlapping intervals merge to 11
      (6L, "only seven words here nothing more really")       // < 8 words: no grams
    ).toDF("id", "text")
    val out = Dedup.dupSpanStats(docs, "text", "id", w = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((10L, 8L, 0.8)))
    assert(out(2L) == ((10L, 8L, 0.8)))
    assert(out(3L) == ((16L, 16L, 1.0)), "within-doc repeats count toward the corpus-wide >= 2")
    assert(out(4L) == ((11L, 11L, 1.0)),
      "overlapping dup intervals (pos 0..3, width 8) union to the whole doc, not 4*8")
    assert(out(5L) == ((11L, 11L, 1.0)))
    assert(out(6L) == ((7L, 0L, 0.0)), "docs under w words carry no spans")
  }

  test("dropDupSpans: within-doc, cross-doc, case-insensitive matching, original-case rebuild") {
    import spark.implicits._
    val shared = "p q r s t u v w" // 8 words, shared by docs 2 and 3
    val docs = Seq(
      // the 8-gram "a b c d e f g h" at pos 0 and 9: within-doc dup ->
      // both occurrences scrubbed, only the separator X survives
      (1L, "a b c d e f g h X a b c d e f g h"),
      (2L, s"left flank $shared right flank"),
      (3L, s"other intro words $shared"),
      // case-insensitive gram matching, whole doc covered -> empty
      (4L, "A b C d e f g h"),
      (5L, "one two"), // under w: untouched, even though "one two" repeats nowhere
      (6L, "i j k l m n o p q unique tail words") // no dup grams: kept whole
    ).toDF("id", "text")
    val out = Dedup.dropDupSpans(docs, "text", "id", w = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((17L, 1L, "X")), "original case survives the rebuild")
    assert(out(2L) == ((12L, 4L, "left flank right flank")))
    assert(out(3L) == ((11L, 3L, "other intro words")))
    assert(out(4L) == ((8L, 0L, "")), "'A b C...' matches 'a b c...' case-insensitively")
    assert(out(5L) == ((2L, 2L, "one two")), "docs under w pass through verbatim")
    assert(out(6L) == ((12L, 12L, "i j k l m n o p q unique tail words")))
  }

  test("dedupUnitsKeepFirst at paragraph granularity: global first survives, separators normalize") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\n\nshared para"),
      (2L, "unique two\n\n\nshared para"),   // \n{3} split; loses the dup
      (3L, "shared para"),                    // whole doc was seen first in doc 1
      (4L, "intact\ninternal newline")        // single newline: ONE paragraph, untouched
    ).toDF("id", "text")
    val out = Dedup.dedupUnitsKeepFirst(docs, "text", "id", "\n{2,}", "\n\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique one\n\nshared para")
    assert(out(2L) == "unique two", "later occurrence of the shared paragraph drops")
    assert(out(3L) == "", "fully-duplicate doc empties, not drops")
    assert(out(4L) == "intact\ninternal newline")
  }

  test("keep-first dedup plan: map-side partial aggregate winner election, no Window") {
    import spark.implicits._
    val docs = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("id", "text")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = Dedup.dedupLinesKeepFirst(docs, "text", "id")
        .queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty,
        "keep-first dedup must not route every occurrence of a line " +
          "through one Window task")
      // the line-keyed exchange must have a PARTIAL aggregate below it:
      // co-located repeats of a hot boilerplate line collapse to one
      // candidate per map partition before any bytes hit the wire
      val lineExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.output.exists(_.name == "__line") => e
      }
      assert(lineExchanges.nonEmpty, s"expected a line-keyed exchange:\n${plan.treeString}")
      lineExchanges.foreach { e =>
        val partialBelow = e.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }
        assert(partialBelow.nonEmpty,
          s"expected partial aggregate below the line exchange:\n${plan.treeString}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("keep-first dedup hot key: 100k copies of one line never concentrate in one task") {
    import spark.implicits._
    // the pathological input this operator exists for: one boilerplate
    // line repeated across 100k docs. With the old Window shape every
    // copy shuffled into ONE task (100k shuffle-read records on a single
    // reducer); the partial-aggregate shape collapses each map
    // partition's copies to one candidate row, so no task reads more
    // than a handful of shuffle records.
    // 100 docs × 1000 copies of the line = 100k exploded occurrences,
    // while the doc frame itself stays tiny (so the final rebuild join
    // cannot legitimately move many rows — any task reading thousands of
    // shuffle records can only be the hot line concentrating)
    val n = 100000
    val docs = spark.range(100).select(F.col("id"),
      F.array_join(F.array_repeat(
        F.lit("Subscribe to our newsletter for more updates"), 1000), "\n").as("text"))
    val maxTaskRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        Option(t.taskMetrics).foreach { m =>
          maxTaskRecords.getAndUpdate(v => math.max(v, m.shuffleReadMetrics.recordsRead))
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try {
        val r = Dedup.dedupLinesKeepFirst(docs, "text", "id")
          .filter(F.length(F.col("text")) > 0).collect()
        org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(out.length == 1 && out.head.getLong(0) == 0L,
      "only doc 0 keeps the globally-first occurrence (all later copies drop)")
    assert(out.head.getString(1) == "Subscribe to our newsletter for more updates")
    val got = maxTaskRecords.get()
    assert(got < 1000L,
      s"hot line concentrated: one task shuffle-read $got records (partial " +
        s"aggregation should bound this near the map-partition count, not $n)")
  }

  test("dup-span gram counting: hash prefilter + exact confirm matches an all-strings count") {
    import spark.implicits._
    // randomized corpus with planted cross-doc and within-doc dup grams;
    // the reference below is the former shape — count EVERY gram by its
    // full string — and the shipped hash-prefiltered tier must match it
    // row-for-row (no false negatives by construction; collisions only
    // promote grams into the exact confirm, which rejects them)
    val r = new java.util.Random(7L)
    val vocab = (0 until 200).map(i => s"t$i")
    val phrase = (0 until 8).map(i => s"dup$i").mkString(" ")
    val docs = (0L until 60L).map { i =>
      val body = (0 until 30).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")
      (i, if (i % 5 == 2) s"$body $phrase" else body)
    }.toDF("id", "text")
    val got = Dedup.dupSpanStats(docs, "text", "id", w = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    // reference: the pre-hash-tier all-strings count feeding the same
    // closed-form coverage
    val ws = F.filter(F.split(F.lower(F.col("text")), "\\s+"), x => x =!= "")
    val base = docs.select(F.col("id"), ws.as("__ws"))
      .select(F.col("id"), F.col("__ws"), F.size(F.col("__ws")).as("__n"))
    val grams = base.filter(F.col("__n") >= 8)
      .select(F.col("id"), F.posexplode(
        F.transform(F.sequence(F.lit(0), F.col("__n") - 8),
          i => F.array_join(F.slice(F.col("__ws"), i + 1, F.lit(8)), " ")))
        .as(Seq("__pos", "__g")))
    val dupGrams = grams.groupBy("__g").agg(F.count(F.lit(1)).as("__c"))
      .filter(F.col("__c") >= 2).select("__g")
    val wNext = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("__pos")
    val covered = grams.join(dupGrams, Seq("__g"), "left_semi")
      .withColumn("__cov", F.least(F.lit(8L),
        F.coalesce(F.lead("__pos", 1).over(wNext) - F.col("__pos"), F.lit(8))
          .cast("long")))
      .groupBy("id").agg(F.sum("__cov").as("__dup"))
    val want = base.join(covered, Seq("id"), "left")
      .select(F.col("id"), F.col("__n").cast("long"),
        F.coalesce(F.col("__dup"), F.lit(0L)))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(got == want, s"engine-only=${got -- want}, reference-only=${want -- got}")
  }

  test("dropByPairsKeepBest: max score survives per cluster, ties to min id, non-dups kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", 5L), (2L, "x", 9L), (3L, "x", 9L), // cluster {1,2,3}: 2 and 3 tie at 9 -> keep 2
      (4L, "y", 1L), (5L, "y", 7L),                 // cluster {4,5}: keep 5
      (6L, "z", 0L)                                 // unpaired: kept regardless of score
    ).toDF("id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.dropByPairsKeepBest(docs, pairs, "id", org.apache.spark.sql.functions.col("score"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 5L, 6L), s"got $kept")
  }

  test("contaminationReport: per-item gram totals, hits, distinct docs, short-text convention") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),              // grams a..h, b..i, c..j
      (2L, "z z a b c d e f g h"),              // contains a..h
      (3L, "unrelated words here nothing to see move along now ok"),
      (4L, "hi there")                          // under w: whole text is ONE gram
    ).toDF("id", "text")
    val bench = Seq(
      (100L, "a b c d e f g h"),   // 1 gram, hit by docs 1 and 2
      (101L, "q r s t u v w x"),   // 1 gram, clean
      (102L, "a b c d e f g h i"), // 2 grams: a..h (docs 1,2), b..i (doc 1)
      (103L, "hi there")           // whole-text gram, hit by doc 4 only
    ).toDF("bid", "btext")
    val out = Dedup.contaminationReport(docs, "text", "id", bench, "btext", "bid", w = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(100L) == ((1L, 1L, 2L)))
    assert(out(101L) == ((1L, 0L, 0L)), "clean items keep a zero row")
    assert(out(102L) == ((2L, 2L, 2L)), "n_docs counts DISTINCT docs across grams")
    assert(out(103L) == ((1L, 1L, 1L)), "short texts match on the whole-text gram")
  }

  test("dedupAgainstCorpus: exact and near batch dups drop, novel rows keep (even batch-internal twins)") {
    import spark.implicits._
    val corpus = base.toDF("id", "text")
    val novel = "totally novel words apple banana cherry dog elephant fox grape hotel"
    val batch = Seq(
      (1001L, base(0)._2),                 // exact copy of corpus doc 0
      (1002L, base(1)._2 + " mutated"),    // near-dup of corpus doc 1
      (1003L, novel),                      // novel -> kept
      (1004L, novel)                       // batch-internal twin of 1003: kept
    ).toDF("id", "text")                   // (dedup is vs the CORPUS only)
    val survivors = Dedup.dedupAgainstCorpus(batch, corpus, "text", "id",
        w = 3, k = 32, bands = 16, threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1003L, 1004L), s"got $survivors")
  }
}
