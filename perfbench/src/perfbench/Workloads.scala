package perfbench

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}

import graft.langid.{CharLM, CharLMModel, NGramLangId, NGramModel}
import graft.pipeline.{CorpusPrep, PartitionedSink, ScoredTurn, Transcripts, TranscriptPipeline, Turn}

/** What every workload shares: the session, a private work dir, the seed. */
final case class Ctx(spark: SparkSession, work: String, seed: Long, cores: Int) {
  def path(p: String): String = s"$work/$p"
  def delete(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }
  def bytesUnder(p: String): Long = graft.etl.BuildCache.listDataFiles(spark, p).map(_.getLen).sum
}

/** A workload: set-up steps, one timed iteration that materializes its
  * output, and output checks run after the timed loop. */
trait Workload {
  /** The set-up: generate and write the inputs, train models. */
  def prepare(): Unit
  /** Rows and bytes of the input one iteration reads. */
  def inputRows: Long
  def inputBytes: Long
  /** One timed iteration. */
  def run(iter: Int, tr: Tracer): Unit
  /** Called after an iteration settled, with the observed metrics it
    * published; keeps what the checks need. Untimed. */
  def afterIteration(iter: Int, observed: Seq[(String, Row)]): Unit = ()
  /** Output checks over the timed iterations: the number of iterations
    * that failed them. */
  def check(iters: Seq[Int]): Int
  /** Per-layer pins: counts that must not move. */
  def layerValues: Map[String, Double] = Map.empty
  /** A sample of the workload's texts, as turns, for the single-thread kernel probe. */
  def probeTexts(n: Int): Array[Turn]
}

object Workloads {
  val Names: Seq[String] = Seq("transcripts", "corpus_prep")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "transcripts" => new TranscriptsWorkload(ctx)
    case "corpus_prep" => new CorpusPrepWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  val NLangs = 97

  /** Models trained the way `RunPipeline` does, on a labeled transcript
    * table generated from `seed`. Returns the models and training seconds. */
  def trainModels(spark: SparkSession, seed: Long, convs: Long): (NGramModel, CharLMModel, Double) = {
    import spark.implicits._
    val labeled = Transcripts.generate(spark, convs, seed = seed, hotFactor = 1, nLangs = NLangs)
      .map(t => (Transcripts.truthLang(seed, t.conv_id, NLangs), t.text))
      .toDF("lang_true", "text")
    val t0 = System.nanoTime()
    val nm = NGramLangId.train(spark, labeled, "lang_true", "text")
    val lm = CharLM.train(spark, labeled, "lang_true", "text")
    (nm, lm, (System.nanoTime() - t0) / 1e9)
  }

  /** Seed of a derived input, so inputs of one run never share a stream. */
  def subSeed(seed: Long, salt: Long): Long = graft.dedup.Dedup.mix64(seed * 0x9e3779b97f4a7c15L + salt)

  /** A seeded-hash sample of `n` turns, spread over conversations. */
  def sampleTurns(spark: SparkSession, turns: DataFrame, n: Int): Array[Turn] = {
    import spark.implicits._
    turns.orderBy(F.xxhash64(F.col("conv_id"), F.col("turn_idx"))).limit(n).as[Turn].collect()
  }

  /** Documents as one-turn conversations, for the kernel probe. */
  def docTurns(docs: DataFrame): DataFrame =
    docs.select(F.col("doc_id").cast("string").as("conv_id"), F.lit(0).as("turn_idx"),
      F.lit("user").as("role"), F.col("text"), F.lit(null).cast("string").as("tool"),
      F.lit(null).cast("timestamp").as("ts"))
}

/** `RunPipeline`'s path: score + decide + partitioned sink with manifests. */
final class TranscriptsWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  /** Input size in turns, the same for every seed: whole conversations up
    * to the last one, which is cut at this many rows. */
  private val nTurns = 30000L
  private val trainConvs = 800L
  private val nParts = 16
  private val input = ctx.path("input/transcripts")
  private var nm: Broadcast[NGramModel] = _
  private var lm: Broadcast[CharLMModel] = _
  var trainS = 0.0
  private var rows = 0L
  private val counts = mutable.Map.empty[Int, Seq[Long]]
  private val reports = mutable.Map.empty[Int, PartitionedSink.WriteReport]

  def prepare(): Unit = {
    val hot = 50
    val (nConvs, lastTurns) = Iterator.iterate((0L, 0L)) { case (c, n) =>
      (c + 1, n + Transcripts.turnsOf(ctx.seed, c, hot)) }
      .dropWhile(_._2 < nTurns).next()
    val cut = nTurns - (lastTurns - Transcripts.turnsOf(ctx.seed, nConvs - 1, hot))
    Transcripts.generate(spark, nConvs, seed = ctx.seed, hotFactor = hot,
        numPartitions = ctx.cores * 4, nLangs = Workloads.NLangs)
      .filter(t => t.conv_id != f"conv${nConvs - 1}%08d" || t.turn_idx < cut)
      .write.mode("overwrite").parquet(input)
    rows = spark.read.parquet(input).count()
    val (n, l, s) = Workloads.trainModels(spark, Workloads.subSeed(ctx.seed, 7), trainConvs)
    trainS = s
    nm = spark.sparkContext.broadcast(n)
    lm = spark.sparkContext.broadcast(l)
  }
  def inputRows: Long = rows
  def inputBytes: Long = ctx.bytesUnder(input)
  private def out(iter: Int) = ctx.path(s"out/transcripts-$iter")

  def run(iter: Int, tr: Tracer): Unit = {
    val turns = spark.read.parquet(input).as[Turn]
    val result = tr.span("pipeline.run") { TranscriptPipeline.run(spark, turns, nm, lm) }
    reports(iter) = tr.span("pipeline.write") { PartitionedSink.write(spark, result, out(iter), nParts) }
  }

  override def afterIteration(iter: Int, observed: Seq[(String, Row)]): Unit = {
    observed.filter(_._1 == "graft_pipeline").lastOption.foreach { case (_, r) =>
      counts(iter) = (0 until r.length).map(i => if (r.isNullAt(i)) -1L else r.getLong(i))
    }
    // keep only the latest output: the row check reads it
    ctx.delete(out(iter - 1))
  }

  def check(iters: Seq[Int]): Int = {
    val bad = mutable.Set.empty[Int]
    val first = iters.headOption.flatMap(counts.get)
    iters.foreach { i =>
      val c = counts.get(i)
      val m = reports.get(i).map(_.written).getOrElse(Seq.empty)
      val ok = c.isDefined && c == first && c.get.head == rows &&
        m.map(_.nRows).sum == rows && m.map(_.nKeep).sum == c.get(1) && c.get(1) > 0 && c.get(1) < rows
      if (!ok) { bad += i; println(s"[check] transcripts iteration $i: counters $c, manifests ${m.size}") }
    }
    iters.lastOption.foreach { last =>
      val mismatches = rowMismatches(out(last))
      if (mismatches > 0) { bad += last; println(s"[check] transcripts: $mismatches rows differ from scoreOne") }
    }
    bad.size
  }

  /** Rows whose lang, scrubbed or keep differ from sequential
    * `TranscriptPipeline.scoreOne` plus the previous-turn repeat rule. */
  private def rowMismatches(dir: String): Int = {
    val n = nm.value; val l = lm.value
    val turns = spark.read.parquet(input).as[Turn].collect().sortBy(t => (t.conv_id, t.turn_idx))
    // scoreOne is pure, so rows are scored on all cores; the repeat rule then runs in order
    val scored = new Array[ScoredTurn](turns.length)
    java.util.stream.IntStream.range(0, turns.length).parallel()
      .forEach(i => scored(i) = TranscriptPipeline.scoreOne(turns(i), n, l))
    val expected = mutable.HashMap.empty[(String, Int), (String, String, Boolean)]
    var prevConv: String = null
    var prevScrubbed: String = null
    turns.indices.foreach { i =>
      val t = turns(i)
      val s = scored(i)
      val repeat = t.conv_id == prevConv && s.scrubbed == prevScrubbed
      expected((t.conv_id, t.turn_idx)) =
        (s.lang, s.scrubbed, !s.junk && !repeat && s.perplexity <= TranscriptPipeline.MaxPerplexity)
      prevConv = t.conv_id; prevScrubbed = s.scrubbed
    }
    val got = spark.read.parquet(s"$dir/data").select("conv_id", "turn_idx", "lang", "scrubbed", "keep")
      .as[(String, Int, String, String, Boolean)].collect()
    val wrong = got.count { case (c, i, lang, s, k) => !expected.get((c, i)).contains((lang, s, k)) }
    wrong + math.abs(expected.size - got.length)
  }

  override def layerValues: Map[String, Double] = {
    val c = counts.values.headOption
    Map("pipeline.keep_ratio" -> c.map(v => v(1).toDouble / v.head).getOrElse(0.0))
  }

  def probeTexts(n: Int): Array[Turn] = Workloads.sampleTurns(spark, spark.read.parquet(input), n)
  def models: (NGramModel, CharLMModel) = (nm.value, lm.value)
}

/** `RunCorpusPrep`'s path with a decontamination table and the
  * shard-partitioned parquet write. */
final class CorpusPrepWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  private val docsDir = ctx.path("input/documents")
  private val benchDir = ctx.path("input/benchmark")
  private var rows = 0L
  private val reports = mutable.Map.empty[Int, CorpusPrep.Report]

  def prepare(): Unit = {
    val docs = Docs.corpus(spark, ctx.seed, Docs.CorpusBase, ctx.cores * 2)
    docs.write.mode("overwrite").parquet(docsDir)
    spark.read.parquet(docsDir)
      .filter(F.col("doc_id") < Docs.CorpusBase && F.col("doc_id") % Docs.BenchEvery === 0)
      .select(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 6, 20)).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(benchDir)
    rows = spark.read.parquet(docsDir).count()
  }
  def inputRows: Long = rows
  def inputBytes: Long = ctx.bytesUnder(docsDir) + ctx.bytesUnder(benchDir)
  private def out(iter: Int) = ctx.path(s"out/corpus-$iter")

  def run(iter: Int, tr: Tracer): Unit = {
    val docs = spark.read.parquet(docsDir)
    val bench = spark.read.parquet(benchDir)
    val (packed, rep) = tr.span("pipeline.corpus_prep") {
      CorpusPrep.run(docs, "text", "doc_id", "source", benchmark = Some(bench),
        qualityBand = Some((0.1, 1.0)), report = true)
    }
    tr.span("sink.write") { packed.write.mode("overwrite").partitionBy("source").parquet(out(iter)) }
    rep.foreach(reports(iter) = _)
  }

  override def afterIteration(iter: Int, observed: Seq[(String, Row)]): Unit =
    ctx.delete(out(iter - 1))

  def check(iters: Seq[Int]): Int = {
    val bad = mutable.Set.empty[Int]
    val first = iters.headOption.flatMap(reports.get)
    iters.foreach { i =>
      val ok = reports.get(i).exists { r =>
        val chain = Seq(r.input, r.afterExactDedup, r.afterNearDup, r.afterDecontaminate, r.afterQuality)
        reports.get(i) == first && r.input == rows &&
          chain.sliding(2).forall { case Seq(a, b) => b < a } && r.afterQuality > 0 && r.nChunks > 0
      }
      if (!ok) { bad += i; println(s"[check] corpus_prep iteration $i: report ${reports.get(i)}") }
    }
    for (last <- iters.lastOption; r <- reports.get(last)) {
      val written = spark.read.parquet(out(last))
      val nRows = written.count()
      val nChunks = written.select("source", "chunk_id").distinct().count()
      if (nRows != r.afterQuality || nChunks != r.nChunks) {
        bad += last
        println(s"[check] corpus_prep: wrote $nRows rows / $nChunks chunks, report $r")
      }
    }
    bad.size
  }

  override def layerValues: Map[String, Double] = reports.values.headOption.map { r =>
    Map("corpus_prep.after_exact_dedup" -> r.afterExactDedup.toDouble,
      "corpus_prep.after_near_dup" -> r.afterNearDup.toDouble,
      "corpus_prep.after_decontaminate" -> r.afterDecontaminate.toDouble,
      "corpus_prep.after_quality" -> r.afterQuality.toDouble,
      "corpus_prep.n_chunks" -> r.nChunks.toDouble)
  }.getOrElse(Map.empty)

  def probeTexts(n: Int): Array[Turn] =
    Workloads.sampleTurns(spark, Workloads.docTurns(spark.read.parquet(docsDir)), n)
}
