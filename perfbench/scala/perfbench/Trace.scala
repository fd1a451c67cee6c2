package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer of graft. Times are nanoseconds since the
  * tracer's base; `op` groups the spans of one benchmark operation. */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int, val t0: Long) {
  var t1: Long = 0L
}

/** Spans recorded from the benchmark's side of each call into graft. They
  * stay in memory and are written out when the run ends. While a span is
  * open its Spark job tag (`pbspan-<id>`) is set on the driver thread, so
  * the [[JobRecorder]] can attribute every job to the innermost open span.
  * Disabled (the untraced phases), `span` only runs its body. */
final class Tracer(sc: SparkContext) {
  val baseNs: Long = System.nanoTime()
  val baseEpochMs: Long = System.currentTimeMillis()
  private val jobs = new JobRecorder(baseEpochMs)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var enabled = false
  private var opCounter = 0

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(jobs)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobs)
    enabled = false
  }

  /** Id of the op being traced; -1 while tracing is off. */
  def currentOp: Int = if (enabled) opCounter else -1

  /** Root span of one benchmark operation (`op.<kind>`). */
  def op[T](kind: String)(body: => T): T =
    if (!enabled) body
    else {
      opCounter += 1
      span("op." + kind)(body)
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, opCounter, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime() - baseNs)
      spans += s
      stack = s :: stack
      val tag = s"pbspan-${s.id}"
      sc.addJobTag(tag)
      try body
      finally {
        sc.removeJobTag(tag)
        s.t1 = System.nanoTime() - baseNs
        stack = stack.tail
      }
    }

  /** Spans and jobs as JSON-ready records; waits for the listener bus to
    * deliver every event first. */
  def records: (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    disable()
    val s = spans.toSeq.map(x => Map[String, Any](
      "id" -> x.id, "name" -> x.name, "op" -> x.op, "parent" -> x.parent,
      "t0_ms" -> x.t0 / 1e6, "t1_ms" -> x.t1 / 1e6))
    (s, jobs.records)
  }
}

/** Per-job timings and summed task metrics, keyed by the job tags that
  * were set on the submitting thread. Times are ms since `baseEpochMs`. */
final class JobRecorder(baseEpochMs: Long) extends SparkListener {
  private final class Job(val id: Int, val tags: Seq[String], val t0: Long) {
    var t1 = -1L
    var tasks, runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(',')).filter(_.startsWith("pbspan-"))
    jobs(e.jobId) = new Job(e.jobId, tags, e.time - baseEpochMs)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time - baseEpochMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  def records: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map[String, Any](
      "id" -> j.id, "tags" -> j.tags, "t0_ms" -> j.t0.toDouble, "t1_ms" -> j.t1.toDouble,
      "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
      "input_bytes" -> j.inputBytes, "shuffle_read_bytes" -> j.shuffleRead,
      "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spillBytes))
  }
}
