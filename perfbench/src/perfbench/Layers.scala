package perfbench

/** Per-layer metrics of the traced iterations. A Spark job belongs to the
  * layer of its deepest `graft.<module>` frame, else to the layer of the
  * benchmark span that ran it (see `Recorder.attribute`). */
object Layers {
  val Kernels: Seq[String] = Seq("text.normalize_ns", "text.scrub_ns", "langid.predict_ns",
    "langid.perplexity_ns", "quality.metrics_ns", "pipeline.score_row_ns")
  val Pins: Seq[String] = Seq("pipeline.keep_ratio", "dedup.capped_rows",
    "corpus_prep.after_exact_dedup", "corpus_prep.after_near_dup",
    "corpus_prep.after_decontaminate", "corpus_prep.after_quality", "corpus_prep.n_chunks")
  val Spark: Seq[String] = Seq("spark.core_util", "spark.max_task_share", "spark.driver_only_s",
    "spark.jobs", "spark.tasks", "spark.shuffle_write_mb", "spark.shuffle_read_records",
    "spark.spill_mb", "spark.exec_cpu_s", "spark.gc_s",
    "spark.input_mb", "spark.output_mb")
  val Modules: Seq[String] = Seq("pipeline.exec_s", "pipeline.shuffle_write_mb",
    "pipeline.sink_write_mb", "dedup.exec_s", "dedup.jobs", "dedup.shuffle_write_mb",
    "dedup.components_jobs")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val PerLayer: Seq[String] =
    Kernels ++ Seq("langid.train_s") ++ Modules ++ Spark ++ Pins ++ Seq("trace.overhead_s")

  val zero: Map[String, Double] = PerLayer.map(_ -> 0.0).toMap

  def unitOf(n: String): String =
    if (n.endsWith("_ns")) "ns"
    else if (n.endsWith("_s")) "s"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith("_util") || n.endsWith("_share") || n.endsWith("_ratio")) "ratio"
    else "count"

  private val MB = 1048576.0

  /** Mean per traced iteration. `windows` holds each iteration's
    * [start, end] in epoch milliseconds. */
  def metrics(rec: Recorder, tr: Tracer, iters: Set[Int],
      windows: collection.Map[Int, (Double, Double)], cores: Int): Map[String, Double] = {
    val (jobs, tasks, stages) = rec.synchronized((rec.jobs.values.toSeq, rec.tasks.toSeq, rec.stages.toMap))
    val perIter = iters.toSeq.map { i =>
      val js = jobs.filter(j => tr.spanOf(j) >= 0 && tr.spans(tr.spanOf(j)).iter == i)
      val jobOfStage = js.flatMap(j => j.stageIds.map(_ -> j)).toMap
      val ts = tasks.filter(t => jobOfStage.contains(t.stage))
      val (w0, w1) = windows(i)
      val wallMs = w1 - w0
      def layer(l: String) = ts.filter(t => tr.jobLayer(jobOfStage(t.stage)) == l)
      def runS(x: Seq[TaskRec]) = x.map(_.runMs).sum / 1000.0
      def shuffleMb(x: Seq[TaskRec]) = x.map(_.shuffleWriteBytes).sum / MB
      val busyMs = Tracer.unionMs(ts.map(t => (t.launchMs.toDouble max w0, t.finishMs.toDouble min w1)))
      val shares = ts.groupBy(_.stage).toSeq.flatMap { case (sid, st) =>
        stages.get(sid).filter(s => s.submitMs > 0 && s.completeMs > s.submitMs).map { s =>
          val stageMs = (s.completeMs - s.submitMs).toDouble
          (stageMs, st.map(t => t.finishMs - t.launchMs).max / stageMs)
        }
      }
      // stages shorter than 2% of the iteration cannot set its wall
      val bigShares = shares.filter(_._1 >= 0.02 * wallMs).map(_._2)
      Map(
        "spark.core_util" -> runS(ts) / (wallMs / 1000.0 * cores),
        "spark.max_task_share" -> (if (bigShares.nonEmpty) bigShares.max else 0.0),
        "spark.driver_only_s" -> (wallMs - busyMs) / 1000.0,
        "spark.jobs" -> js.size.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.shuffle_write_mb" -> shuffleMb(ts),
        "spark.shuffle_read_records" -> ts.map(_.shuffleReadRecords).sum.toDouble,
        "spark.spill_mb" -> ts.map(_.spillBytes).sum / MB,
        "spark.exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
        "spark.input_mb" -> ts.map(_.inputBytes).sum / MB,
        "spark.output_mb" -> ts.map(_.outputBytes).sum / MB,
        "pipeline.exec_s" -> runS(layer("pipeline")),
        "pipeline.shuffle_write_mb" -> shuffleMb(layer("pipeline")),
        "pipeline.sink_write_mb" -> layer("pipeline").map(_.outputBytes).sum / MB,
        "dedup.exec_s" -> runS(layer("dedup")),
        "dedup.jobs" -> js.count(j => tr.jobLayer(j) == "dedup").toDouble,
        "dedup.shuffle_write_mb" -> shuffleMb(layer("dedup")),
        "dedup.components_jobs" -> js.count(_.inComponents).toDouble)
    }
    if (perIter.isEmpty) Map.empty
    else perIter.head.keys.map(k => k -> perIter.map(_(k)).sum / perIter.size).toMap
  }
}
