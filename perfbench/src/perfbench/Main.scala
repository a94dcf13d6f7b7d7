package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.langid.{CharLMModel, NGramModel}
import graft.pipeline.{TranscriptPipeline, Turn}
import graft.text.{Normalize, Scrub}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}

/** Largest heap occupancy right after a GC, from the GC MXBeans'
  * notifications, within a window of JVM uptime. */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val afterGc = mutable.ArrayBuffer.empty[(Long, Long)] // (gc end uptime ms, bytes)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
          val used = info.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools.contains(pool) => u.getUsed
          }.sum
          afterGc.synchronized(afterGc += ((info.getEndTime, used)))
        }
      }, null, null)
    case _ => ()
  }
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
  /** Peak after-GC heap in [fromMs, toMs], at least the heap live after a
    * full collection at the end of the window. */
  def peakMb(fromMs: Long, toMs: Long): Double = {
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val inWindow = afterGc.synchronized(afterGc.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2))
    (inWindow :+ live).max / 1048576.0
  }
}

/** Runs one workload: set-up, warm-up iterations, then timed iterations
  * (closed loop, one caller) for a fixed time; checks outputs; prints the
  * metrics. With --trace 1, every other iteration is traced and the
  * per-layer metrics come from the traced ones.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  /** Untimed iterations before the timed loop, while the JIT, codegen and
    * caches warm up: the first iterations run up to a quarter slower. */
  val WarmupIters = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    require(Workloads.Names.contains(workload),
      s"unknown workload '$workload' (one of ${Workloads.Names.mkString(", ")})")

    val heap = new HeapWatch
    val spark = graft.GraftSession.builder(cores, s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = heap.uptimeMs / 1000.0
    val sc = spark.sparkContext

    val rec = new Recorder
    sc.addSparkListener(rec)
    val obs = new Observer
    spark.listenerManager.register(obs)

    val ctx = Ctx(spark, work, seed, cores)
    val w = Workloads(workload, ctx)
    val tp = System.nanoTime()
    w.prepare()
    val prepS = (System.nanoTime() - tp) / 1e9
    val off = new Tracer(sc, rec, enabled = false)
    val tw = System.nanoTime()
    for (k <- WarmupIters to 1 by -1) { w.run(-k, off); w.afterIteration(-k, Seq.empty) }
    val warmS = (System.nanoTime() - tw) / 1e9
    // set-up: from process start to the first timed iteration
    val setupS = (System.currentTimeMillis() -
      ProcessHandle.current().info().startInstant().get().toEpochMilli) / 1000.0
    println(f"[setup] $setupS%.2f s: session ${sessionS}%.2f s, prepare $prepS%.2f s, warm-up $warmS%.2f s")

    // ---- timed loop ----
    val tracer = new Tracer(sc, rec, enabled = trace)
    val walls = mutable.ArrayBuffer.empty[(Int, Boolean, Double)] // (iter, traced, seconds)
    val heaps = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.Map.empty[Int, (Double, Double)]
    val threwIters = mutable.Set.empty[Int]
    var cappedRows = 0.0
    val start = System.nanoTime()
    var iter = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (elapsed < seconds || (trace && (iter < 2 || iter % 2 == 1))) {
      val traced = trace && iter % 2 == 1
      rec.recording = traced
      System.gc()
      val group = s"perfbench-iter-$iter"
      val obsFrom = obs.size
      val h0 = heap.uptimeMs
      val t = if (traced) tracer else off
      t.iter = iter
      sc.setJobGroup(group, s"$workload iteration $iter")
      val w0 = tracer.nowMs
      val t0 = System.nanoTime()
      try t.span(s"$workload.iteration")(w.run(iter, t))
      catch {
        case e: Exception =>
          println(s"[check] iteration $iter threw: $e")
          threwIters += iter
      }
      val secs = (System.nanoTime() - t0) / 1e9
      windows(iter) = (w0, tracer.nowMs)
      sc.clearJobGroup()
      rec.settle(sc, group)
      heaps += heap.peakMb(h0, heap.uptimeMs)
      val observed = obs.since(obsFrom)
      if (iter == 0) cappedRows = observed.filter(_._1.endsWith("_caps")).map { case (_, r) =>
        scala.util.Try(r.getAs[Number]("capped_rows").doubleValue).getOrElse(0.0)
      }.sum
      w.afterIteration(iter, observed)
      walls += ((iter, traced, secs))
      println(f"[iter] $iter${if (traced) " traced" else ""} $secs%.3f s")
      iter += 1
    }
    rec.recording = false
    val iters = walls.map(_._1).toSeq
    // an operation is one iteration: it fails when it throws or fails a check
    val failedOps = threwIters.size + w.check(iters.filterNot(threwIters))
    val attempted = iters.size

    val untracedWalls = walls.filterNot(_._2).map(_._3).toSeq
    val wallS = Stats.median(untracedWalls)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("wall_s", wallS, "s"),
        ("items_per_s", w.inputRows / wallS, "1/s"),
        ("peak_live_heap_mb", Stats.median(heaps.toSeq), "MB"),
        ("setup_s", setupS, "s"))
      else {
        val tracedIters = walls.filter(_._2).map(_._1).toSet
        val tracedWall = Stats.median(walls.filter(_._2).map(_._3).toSeq)
        val layers = Layers.metrics(rec, tracer, tracedIters, windows, cores)
        val kernels = Kernels.probe(w, spark, seed)
        val self = tracer.selfTimeByLayer(tracedIters)
        println(s"[trace] self time per layer, $workload, per traced iteration:")
        self.toSeq.sortBy(-_._2).foreach { case (l, s) =>
          println(f"[trace]   $l%-20s ${s / tracedIters.size}%.4f s")
        }
        tracer.writeJson(s"$work/trace.jsonl")
        val all = Layers.zero ++ layers ++ kernels ++ w.layerValues ++
          Map("trace.overhead_s" -> (tracedWall - wallS), "dedup.capped_rows" -> cappedRows)
        Layers.PerLayer.map(n => (n, all(n), Layers.unitOf(n)))
      }

    println(f"[result] $workload seed $seed: ${iters.size} iterations, input ${w.inputRows} rows / ${w.inputBytes} bytes, " +
      f"$failedOps/$attempted operations failed")
    metrics.foreach { case (n, v, u) => println(f"[metric] $n%-34s $v%.6g $u") }
    val body = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }.mkString(", ")
    println(s"""{"correct": ${failedOps == 0}, "attempted": $attempted, "failed": $failedOps, """ +
      s""""input_rows": ${w.inputRows}, "input_bytes": ${w.inputBytes}, "metrics": {$body}}""")
    spark.stop()
  }
}

/** Single-thread ns/row of the public per-row kernels, over the workload's
  * own texts. Workloads without langid models train small ones here. */
object Kernels {
  val Rows = 4000
  val Reps = 3

  def probe(w: Workload, spark: SparkSession, seed: Long): Map[String, Double] = {
    val (nm, lm, trainS) = w match {
      case t: TranscriptsWorkload => val (a, b) = t.models; (a, b, t.trainS)
      case _ => Workloads.trainModels(spark, Workloads.subSeed(seed, 7), 300)
    }
    val turns = w.probeTexts(Rows)
    val texts = turns.map(t => if (t.text == null) "" else t.text)
    val normalized = texts.map(Normalize.newlines)
    // the scrub steps of TranscriptPipeline.TurnScorer, malformed markup included
    def scrub(s: String): (String, Int) = {
      val d = if (s.indexOf('<') < 0) s
        else try Scrub.stripRawTextTag(Scrub.stripRawTextTag(s, "script")._1, "style")._1
        catch { case _: Scrub.MalformedInputException => s }
      val (p, _) = Scrub.scrubPiiCounting(d)
      Scrub.scrubDenyList(p, Scrub.defaultDenyList)
    }
    val scrubbed = normalized.map(scrub(_)._1)
    val lower = scrubbed.map(_.toLowerCase(java.util.Locale.ROOT))
    val scorer = new TranscriptPipeline.TurnScorer(nm, lm)
    def nsPerRow(f: Int => Int): Double = Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      var sum = 0L
      while (i < turns.length) { sum += f(i); i += 1 }
      blackhole = sum
      (System.nanoTime() - t0).toDouble / math.max(1, turns.length)
    })
    Map(
      "text.normalize_ns" -> nsPerRow(i => Normalize.newlines(texts(i)).length),
      "text.scrub_ns" -> nsPerRow(i => scrub(normalized(i))._2),
      "langid.predict_ns" -> nsPerRow(i => nm.predictWithConfLower(lower(i))._1),
      "langid.perplexity_ns" -> nsPerRow(i => lm.perplexityLower(lower(i), i % lm.classes.length).toInt),
      "quality.metrics_ns" -> nsPerRow(i => graft.quality.Metrics.of(scrubbed(i)).totalChars),
      "pipeline.score_row_ns" -> nsPerRow(i => scorer.score(turns(i), 0L).total_chars),
      "langid.train_s" -> trainS)
  }

  /** Results of the probed calls land here, so the JIT cannot drop them. */
  @volatile var blackhole = 0L
}
