package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.{Bus, BusMarker}
import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, reduced to the fields the per-layer metrics use. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, shuffleReadRecords: Long,
    spillBytes: Long, inputBytes: Long, outputBytes: Long)

final case class JobRec(id: Int, group: String, startMs: Long, stageIds: Seq[Int],
    module: String, inComponents: Boolean, var endMs: Long = -1L)

final case class StageRec(id: Int, var submitMs: Long, var completeMs: Long)

/** Listener registered from outside the program. It always records job
  * ends and bus markers (what the settle step needs); while `recording`
  * it also keeps every job, stage and task for the per-layer metrics. */
final class Recorder extends SparkListener {
  private var markerSeen = -1L
  private val ended = mutable.Set.empty[Int]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  @volatile var recording = false

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val frames = e.stageInfos.flatMap(_.details.split("\n")).map(_.trim)
    val (module, inComponents) = Recorder.attribute(frames)
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.stageIds, module, inComponents)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += e.jobId
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (recording) synchronized {
    val s = e.stageInfo
    stages(s.stageId) = StageRec(s.stageId, s.submissionTime.getOrElse(-1L), -1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) synchronized {
    val s = e.stageInfo
    val rec = stages.getOrElseUpdate(s.stageId, StageRec(s.stageId, -1L, -1L))
    rec.submitMs = s.submissionTime.getOrElse(rec.submitMs)
    rec.completeMs = s.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.recordsRead, m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case BusMarker(id) => synchronized { markerSeen = id; notifyAll() }
    case _ => ()
  }

  private val markers = new java.util.concurrent.atomic.AtomicLong(0)

  /** Waits, without sleeping, until every event posted before this call
    * has been delivered, then until the listener has seen the end event of
    * each job `statusTracker.getJobIdsForGroup(group)` reports. Returns
    * those job ids. */
  def settle(sc: SparkContext, group: String, timeoutMs: Long = 120000L): Seq[Int] = {
    val id = markers.incrementAndGet()
    Bus.post(sc, BusMarker(id))
    val deadline = System.currentTimeMillis() + timeoutMs
    def await(done: => Boolean, what: String): Unit = synchronized {
      while (!done) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(s"listener did not see $what")
        wait(left)
      }
    }
    await(markerSeen >= id, s"bus marker $id")
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
    await(ids.forall(ended.contains), s"the job ends of group $group")
    ids
  }
}

object Recorder {
  private val Module = """graft\.([a-z]+)\.[A-Za-z].*""".r

  /** The layer a job belongs to: the module of the deepest `graft.<module>`
    * frame of its call site. None when no program frame is on the stack
    * (a lazy plan run by a benchmark action); the caller then uses the
    * enclosing span's layer. */
  def attribute(frames: Seq[String]): (String, Boolean) = {
    val graft = frames.filter(_.startsWith("graft."))
    val module = graft.headOption.map {
      case Module(m) => m
      case _ => "graft"
    }.orNull
    // components() runs its actions through local helpers; look through
    // the dedup frames nearest the action
    (module, graft.takeWhile(_.startsWith("graft.dedup.")).exists(_.startsWith("graft.dedup.Dedup$.components(")))
  }
}

/** Records every observed metric (`Dataset.observe`) the program
  * publishes, in arrival order. */
final class Observer extends QueryExecutionListener {
  val observed = mutable.ArrayBuffer.empty[(String, Row)]
  override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = synchronized {
    qe.observedMetrics.toSeq.sortBy(_._1).foreach(observed += _)
  }
  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  def size: Int = synchronized(observed.size)
  def since(from: Int): Seq[(String, Row)] = synchronized(observed.drop(from).toSeq)
}

final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startMs: Double, var endMs: Double = -1.0)

/** Spans kept in memory and written once at the end. Each span sets its
  * own Spark job group, so every job can be hung under the span that ran
  * it; with tracing off, `span` only runs the body. */
final class Tracer(sc: SparkContext, rec: Recorder, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  var iter = -1

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def group(id: Int): String = s"perfbench-span-$id"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), iter, nowMs)
      spans += s
      stack.push(s)
      sc.setJobGroup(group(s.id), name)
      try body
      finally {
        rec.settle(sc, group(s.id))
        s.endMs = nowMs
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Span id of a job's group, or -1. */
  def spanOf(j: JobRec): Int =
    Option(j.group).filter(_.startsWith("perfbench-span-")).map(_.stripPrefix("perfbench-span-").toInt)
      .getOrElse(-1)

  /** Layer of a span: its name up to the first dot. */
  def layer(name: String): String = name.takeWhile(_ != '.')

  /** Spans plus one child span per Spark job, named `job.<layer>`. */
  def withJobs(): Seq[Span] = {
    val jobSpans = rec.synchronized(rec.jobs.values.toSeq).filter(_.endMs >= 0).flatMap { j =>
      val parent = spanOf(j)
      if (parent < 0) None
      else Some(Span(-1, "job." + jobLayer(j), parent, spans(parent).iter,
        j.startMs.toDouble, j.endMs.toDouble))
    }
    spans.toSeq ++ jobSpans
  }

  def jobLayer(j: JobRec): String =
    Option(j.module).getOrElse {
      val s = spanOf(j)
      if (s < 0) "none" else layer(spans(s).name)
    }

  /** Self time per layer, summed over the spans of the given iterations:
    * a span's duration minus the part its children cover. */
  def selfTimeByLayer(iters: Set[Int]): Map[String, Double] = {
    val all = withJobs().filter(s => iters.contains(s.iter))
    val children = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val kids = if (s.id < 0) Seq.empty else children.getOrElse(s.id, Seq.empty)
      val covered = Tracer.unionMs(kids.map(k => (k.startMs max s.startMs, k.endMs min s.endMs)))
      out(layer(s.name) match { case "job" => "spark." + s.name.stripPrefix("job."); case l => l }) +=
        ((s.endMs - s.startMs) - covered) / 1000.0
    }
    out.toMap
  }

  def writeJson(path: String): Unit = {
    val sb = new StringBuilder
    withJobs().foreach { s =>
      sb.append(s"""{"name":"${s.name}","id":${s.id},"parent":${s.parent},"iter":${s.iter},""")
        .append(f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""").append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = curE max b
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
