package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is -1 for an operation's
  * root span; every span of one operation carries the operation's id `op`.
  * Times are epoch milliseconds, the clock Spark stamps its events with.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double, end: Double)

/** In-memory span recorder for the single client thread.
  *
  * Untraced, it records only each operation's root span, which is all the
  * end-to-end metrics need. Traced, it also records the layer spans inside
  * an operation and publishes the innermost open span id as a Spark job
  * property, so [[SpanListener]] can tag every job with the span that
  * submitted it.
  */
final class Tracer(val traced: Boolean, sc: SparkContext) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[(Int, Int)] = Nil // (span id, op id)

  /** Time `f` as a new operation. */
  def op[T](name: String)(f: => T): (T, Span) = {
    val v = open(name, root = true)(f)._1
    (v, spans.last) // a root span closes after all of its children
  }

  /** Time `f` as a layer span of the current operation (traced runs only). */
  def span[T](name: String)(f: => T): T =
    if (!traced || stack.isEmpty) f else open(name, root = false)(f)._1

  private def open[T](name: String, root: Boolean)(f: => T): (T, Int) = {
    val id = nextId
    nextId += 1
    val parent = if (root) -1 else stack.head._1
    val op = if (root) id else stack.head._2
    stack = (id, op) :: stack
    if (traced) sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = now
    try (f, id)
    finally {
      spans += Span(id, parent, op, name, t0, now)
      stack = stack.tail
      if (traced) sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_._1.toString).orNull)
    }
  }
}

object Tracer {
  val Prop = "graftbench.span"
}

/** Spark listener that attributes jobs, stages and task metrics to the span
  * that was open when the job was submitted. Task metrics are folded per
  * stage as they arrive, so memory stays bounded by the number of stages.
  */
final class SpanListener extends SparkListener {
  final class JobRec(val id: Int, val span: Int, val submit: Long) {
    var end = -1L
    var firstLaunch = Long.MaxValue
    var failed = false
  }
  final class StageRec(val id: Int, val job: Int, val span: Int) {
    var ran = false
    var tasks, failedTasks = 0L
    var busyMs, gcMs, inBytes, inRecords, shuffleWrite, spill, outBytes, outRecords = 0L
    var peakMem = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new StageRec(s, e.jobId, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.ran = true)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    for (s <- stages.get(e.stageId); j <- jobs.get(s.job))
      j.firstLaunch = math.min(j.firstLaunch, e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
      s.busyMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRecords += m.outputMetrics.recordsWritten
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map(j => Map(
        "id" -> j.id, "span" -> j.span, "submit" -> j.submit, "end" -> j.end,
        "first_launch" -> (if (j.firstLaunch == Long.MaxValue) -1L else j.firstLaunch),
        "failed" -> j.failed)),
      "stages" -> stages.values.toSeq.filter(_.ran).map(s => Map(
        "id" -> s.id, "job" -> s.job, "span" -> s.span, "tasks" -> s.tasks,
        "failed_tasks" -> s.failedTasks, "busy_ms" -> s.busyMs, "gc_ms" -> s.gcMs,
        "scan_bytes" -> s.inBytes, "scan_rows" -> s.inRecords,
        "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
        "out_bytes" -> s.outBytes, "out_rows" -> s.outRecords, "peak_mem" -> s.peakMem)))
  }
}
