package graft.langid

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}

/** Character n-gram Naive Bayes language identifier (fastText-langid
  * style): byte/char n-grams feature-hashed into a fixed-width count
  * vector; per-class log-probability argmax.
  *
  * The reference ships a linear substring model
  * (`/root/reference/web/predict.js`); the north star asks for the n-gram
  * variant at transcript scale. Both are broadcast linear models applied in
  * a typed map — the Spark shape is identical (narrow, shuffle-free).
  *
  * Training is Spark-native: one distributed pass computes per-class
  * hashed-n-gram counts (explode-free: each row emits its count map via a
  * typed reduce), then the driver assembles smoothed log-probs.
  */
final case class NGramModel(
    classes: Array[String],
    numBuckets: Int,
    nMin: Int,
    nMax: Int,
    logPrior: Array[Double],
    // TRANSPOSED flat layout: logProbT(bucket * numClasses + classIdx) =
    // log P(bucket | class), add-one smoothed, float32. One n-gram touches
    // numClasses CONTIGUOUS floats (a few cache lines) instead of
    // numClasses arrays 100+ KB apart — the difference between ~14k and
    // ~70k turns/s/8-cores at 97 classes.
    logProbT: Array[Float],
) extends Serializable {

  def numClasses: Int = classes.length

  /** log P(bucket | classIdx) — convenience accessor (tests/analysis). */
  def logProb(classIdx: Int, bucket: Int): Double =
    logProbT(bucket * classes.length + classIdx).toDouble

  /** Per-class log-scores of an ALREADY-LOWERCASED text. Allocation-free
    * except the score array: n-gram occurrences are streamed straight into
    * the per-class accumulators (score = prior + Σ_occurrence logProb) —
    * no count map, which matters at 10^12 rows. */
  @transient private lazy val priorF: Array[Float] = logPrior.map(_.toFloat)

  def scoresLower(text: String): Array[Double] = {
    val nc = classes.length
    if (text == null) return logPrior.clone()
    // float accumulators: same element type as the table lets the JIT
    // vectorize the per-n-gram add loop (double += float blocks SIMD).
    // Sum magnitudes are ~1e3-1e4 over ~1e3 increments — well inside
    // float precision for an argmax, and identical on every path (the
    // sequential oracle runs this same code).
    val s = priorF.clone()
    val lp = logProbT
    // cap per-row work: very long rows are scored on a strided sample of
    // positions (~2048 n-grams per n). Keeps worst-case row cost bounded
    // (skew robustness) without touching typical transcript turns.
    val stride = 1 + text.length / 2048
    var n = nMin
    while (n <= nMax) {
      var i = 0
      val end = text.length - n
      while (i <= end) {
        var h = n.toLong
        var j = i
        while (j < i + n) { h = 31 * h + text.charAt(j); j += 1 }
        val base = NGramLangId.bucketOf(h, numBuckets) * nc
        var c = 0
        while (c < nc) { s(c) += lp(base + c); c += 1 }
        i += stride
      }
      n += 1
    }
    val out = new Array[Double](nc)
    var c = 0
    while (c < nc) { out(c) = s(c).toDouble; c += 1 }
    out
  }

  def predictIdx(text: String): Int = {
    if (text == null) return 0
    val scores = scoresLower(text.toLowerCase(java.util.Locale.ROOT))
    var best = 0; var i = 1
    while (i < scores.length) { if (scores(i) > scores(best)) best = i; i += 1 }
    best
  }

  def predict(text: String): String = classes(predictIdx(text))

  /** (bestIdx, confidence) for an already-lowercased text. Confidence is a
    * softmax over scores normalized by the SAMPLED n-gram count (the same
    * strided positions scoresLower accumulates — normalizing by the full
    * count would collapse confidence toward 1/numClasses on long texts). */
  def predictWithConfLower(text: String): (Int, Double) = {
    val scores = scoresLower(text)
    var best = 0; var i = 1
    while (i < scores.length) { if (scores(i) > scores(best)) best = i; i += 1 }
    val n = math.max(1, NGramLangId.sampledNgrams(text, nMin, nMax))
    var sum = 0.0
    i = 0
    while (i < scores.length) { sum += math.exp((scores(i) - scores(best)) / n); i += 1 }
    (best, 1.0 / sum)
  }

  /** (label, confidence) — see predictWithConfLower. */
  def predictWithConf(text: String): (String, Double) = {
    val (best, conf) = predictWithConfLower(if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT))
    (classes(best), conf)
  }
}

object NGramLangId {

  /** Deterministic 2-class / 16-bucket fixture model (literal weights, no
    * training) for driver-gate queries: the scoring path (rolling hash →
    * mix64 bucket → transposed-table accumulate → argmax) is a pure
    * function of the text, so its outputs can be pinned by a literal
    * oracle. The hash math itself is not expressible in DuckDB's
    * checked-overflow integer arithmetic (two wrapping 64-bit multiplies
    * per mix64); per-row parity vs a naive recount is spec-gated in
    * NGramFixtureSpec. */
  lazy val tinyFixture: NGramModel = {
    val nb = 16
    val classes = Array("alpha", "beta")
    val nc = classes.length
    val logProbT = Array.tabulate(nb * nc) { i =>
      (-1.0 - (graft.dedup.Dedup.mix64(i.toLong) & 7L) * 0.25).toFloat
    }
    NGramModel(classes, nb, nMin = 2, nMax = 3,
      Array(math.log(0.5), math.log(0.5)), logProbT)
  }

  /** 31-based rolling hash of the n-gram, mixed and bucketed. numBuckets
    * must be a power of two: the mask replaces a 64-bit modulo that costs
    * ~30 cycles per n-gram (mix64 makes the low bits uniform). */
  @inline private[langid] def bucketOf(h0: Long, numBuckets: Int): Int =
    (graft.dedup.Dedup.mix64(h0) & (numBuckets - 1)).toInt

  /** Number of n-gram positions scoresLower actually visits (strided). */
  def sampledNgrams(text: String, nMin: Int, nMax: Int): Int = {
    if (text == null) return 0
    val stride = 1 + text.length / 2048
    var total = 0
    var n = nMin
    while (n <= nMax) {
      val end = text.length - n
      if (end >= 0) total += end / stride + 1
      n += 1
    }
    total
  }

  /** Hashed n-gram counts of the lowercased text (bucket -> count). */
  def hashCounts(text0: String, numBuckets: Int, nMin: Int, nMax: Int): java.util.HashMap[Integer, Integer] = {
    val out = new java.util.HashMap[Integer, Integer]()
    if (text0 == null) return out
    val text = text0.toLowerCase(java.util.Locale.ROOT)
    var n = nMin
    while (n <= nMax) {
      var i = 0
      while (i + n <= text.length) {
        var h = n.toLong // distinguish n-gram orders
        var j = i
        while (j < i + n) { h = 31 * h + text.charAt(j); j += 1 }
        val b = Integer.valueOf(bucketOf(h, numBuckets))
        val prev = out.get(b)
        out.put(b, if (prev == null) 1 else prev + 1)
        i += 1
      }
      n += 1
    }
    out
  }

  /** Train on (label, text) rows. One wide-as-narrow aggregation: rows are
    * mapped to (label, sparse counts), reduced per label via
    * groupByKey.reduceGroups on dense vectors of numBuckets ints — the
    * shuffle moves at most numClasses × numBuckets ints per partition
    * (map-side combine), independent of row count.
    */
  def train(spark: SparkSession, df: DataFrame, labelCol: String, textCol: String,
            numBuckets: Int = 1 << 12, nMin: Int = 2, nMax: Int = 3): NGramModel = {
    require((numBuckets & (numBuckets - 1)) == 0, "numBuckets must be a power of two")
    // default 4096 buckets: at 97 classes the transposed table is ~1.6 MB
    // (fits hot in L3 across all cores). 16k buckets is measurably more
    // accurate only below ~100 training rows/class but quadruples the
    // table and pushes 32-core scoring into DRAM-bandwidth saturation.
    import spark.implicits._
    val pairs = df.select(F.col(labelCol).cast("string"), F.col(textCol).cast("string"))
      .as[(String, String)]
    val agg = pairs
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[String, (Array[Long], Long)]
        it.foreach { case (label, text) =>
          val (vec, _) = acc.getOrElseUpdate(label, (new Array[Long](numBuckets), 0L))
          val counts = hashCounts(text, numBuckets, nMin, nMax)
          val cit = counts.entrySet().iterator()
          while (cit.hasNext) { val e = cit.next(); vec(e.getKey) += e.getValue.toLong }
          val cur = acc(label)
          acc(label) = (cur._1, cur._2 + 1)
        }
        acc.iterator.map { case (l, (v, n)) => (l, v, n) }
      }
      .groupByKey(_._1)
      .reduceGroups { (a, b) =>
        val v = a._2.clone()
        var i = 0
        while (i < v.length) { v(i) += b._2(i); i += 1 }
        (a._1, v, a._3 + b._3)
      }
      .map(_._2)
      .collect()
      .sortBy(_._1)

    val classes = agg.map(_._1)
    val totalRows = agg.map(_._3).sum.toDouble
    val logPrior = agg.map(a => math.log(a._3 / totalRows))
    val nc = classes.length
    val logProbT = new Array[Float](numBuckets * nc)
    agg.zipWithIndex.foreach { case ((_, vec, _), c) =>
      val total = vec.sum.toDouble + numBuckets // add-one smoothing
      var b = 0
      while (b < numBuckets) {
        logProbT(b * nc + c) = math.log((vec(b) + 1) / total).toFloat
        b += 1
      }
    }
    NGramModel(classes, numBuckets, nMin, nMax, logPrior, logProbT)
  }
}
