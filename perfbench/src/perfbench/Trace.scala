package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A traced interval. Times are epoch milliseconds; `parent` is the id of
  * the span that caused this one (0 for the root). */
final case class Span(id: Long, parent: Long, name: String, layer: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
final case class Stage(id: Int, startMs: Long, endMs: Long)
final case class Task(stage: Int, startMs: Long, endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                      shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long)

/** Job, stage and task records from Spark's listener bus, kept only while
  * `enabled` is set, so one run can alternate traced and untraced blocks
  * and measure what tracing costs. */
final class ExecListener extends SparkListener {
  @volatile var enabled = false

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  val jobs = new ConcurrentLinkedQueue[Job]
  val stages = new ConcurrentLinkedQueue[Stage]
  val tasks = new ConcurrentLinkedQueue[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) jobStarts.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStarts.remove(e.jobId)).foreach { j =>
    j.endMs = e.time
    jobs.add(j)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages.add(Stage(i.stageId, s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
    val m = e.taskMetrics
    val sr = m.shuffleReadMetrics
    tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, sr.remoteBytesRead + sr.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  def jobSpans: Vector[Job] = jobs.asScala.toVector.sortBy(_.startMs)
}

/** Span tree built from the client's own timings, Spark's progress events
  * and the listener's jobs and stages; written out once, at the end. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0L

  private val byId = mutable.LongMap.empty[Span]
  /** Child time cut off by clipping: how far the recorded phases, jobs and
    * stages fail to nest, and so how far self times are approximate. */
  var clippedMs = 0.0

  /** Adds a span, clipped to its parent's interval: listener and progress
    * timestamps are whole milliseconds taken on different threads, so a
    * child can overhang its parent by a little. */
  def add(parent: Long, name: String, layer: String, startMs: Double, endMs: Double): Long = {
    next += 1
    val (s, e) = byId.get(parent) match {
      case Some(p) if p.parent != 0 || p.layer != "run" =>
        (math.min(math.max(startMs, p.startMs), p.endMs), math.max(math.min(endMs, p.endMs), p.startMs))
      case _ => (startMs, endMs)
    }
    val span = Span(next, parent, name, layer, s, e)
    clippedMs += (endMs - startMs) - (e - s)
    buf += span
    byId(next) = span
    next
  }

  def all: Vector[Span] = buf.toVector

  def setEnd(id: Long, endMs: Double): Unit = {
    val i = buf.indexWhere(_.id == id)
    buf(i) = buf(i).copy(endMs = endMs)
    byId(id) = buf(i)
  }

  /** Duration minus the part of it covered by the span's children. */
  def selfMs: Map[Long, Double] = {
    val kids = buf.groupBy(_.parent)
    buf.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((tot, reach), (a, b)) =>
          if (b <= reach) (tot, reach) else (tot + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durMs - covered)
    }.toMap
  }

  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try buf.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
    } finally w.close()
  }
}

object Spans {
  /** Order in which the micro-batch runner executes its timed phases. */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Adds one micro-batch and its phases under `parent`, with the phases
    * laid end to end from the trigger start in the runner's order; the
    * jobs that ran inside the batch hang under its `addBatch` phase. */
  def addBatch(spans: Spans, parent: Long, b: BatchInfo, jobs: Seq[Job], stages: Map[Int, Stage]): Unit = {
    val id = spans.add(parent, s"${b.query}#${b.batchId}${if (b.idle) " idle" else ""}", "engine", b.startMs, b.endMs)
    var t = b.startMs
    Phases.foreach { ph =>
      val d = b.durations.getOrElse(ph, 0L).toDouble
      if (d > 0) {
        val pid = spans.add(id, ph, if (ph == "addBatch") "engine.add_batch" else "engine.phase", t, math.min(t + d, b.endMs))
        if (ph == "addBatch") addJobs(spans, pid, jobs.filter(j => j.startMs >= t && j.startMs < t + d), stages)
        t += d
      }
    }
  }

  def addJobs(spans: Spans, parent: Long, jobs: Seq[Job], stages: Map[Int, Stage]): Unit =
    jobs.foreach { j =>
      val jid = spans.add(parent, s"job ${j.id}", "exec.job", j.startMs.toDouble, j.endMs.toDouble)
      j.stages.flatMap(stages.get).foreach(s => spans.add(jid, s"stage ${s.id}", "exec.stage", s.startMs.toDouble, s.endMs.toDouble))
    }
}
