package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region around a call into a layer. Spans of one pass share
  * `trace`; `parent` is the id of the enclosing span (-1 for a root).
  * Times are wall-clock milliseconds (the clock Spark's listener events
  * carry, so jobs can be placed inside spans) plus nanoseconds for the
  * duration itself. */
final class Span(val id: Int, val trace: Int, val parent: Int,
    val name: String, val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  /** Counters recorded at the span's boundary (rows, rounds, files...). */
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Spark work that ran inside the span (filled by [[Tracer.attribute]]). */
  var jobs = 0
  var taskS = 0.0
  var shuffleMb = 0.0
  var spillMb = 0.0
  var outMb = 0.0
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` just runs its body, so the
  * untraced passes pay nothing for the instrumentation. */
final class Tracer(val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var traceId = 0
  private var nextId = 0

  def currentTrace: Int = traceId

  /** Start a new trace: the root span of one pass or probe. */
  def root[T](name: String)(body: => T): T = {
    traceId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, System.currentTimeMillis(), System.nanoTime())
      try body finally close(s)
    }

  /** Record a counter on the innermost open span. */
  def count(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value)

  /** A span reconstructed after the fact (from listener events), placed
    * under `parent`. */
  def derived(name: String, parent: Span, startMs: Long, endMs: Long): Span = {
    nextId += 1
    val s = new Span(nextId, parent.trace, parent.id, name, startMs, startMs * 1000000L)
    s.endMs = endMs
    s.endNs = endMs * 1000000L
    spans += s
    s
  }

  private def open(name: String, ms: Long, ns: Long): Span = {
    nextId += 1
    val s = new Span(nextId, traceId, stack.headOption.map(_.id).getOrElse(-1), name, ms, ns)
    spans += s
    stack = s :: stack
    s
  }

  private def close(s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    s.endNs = System.nanoTime()
    stack = stack.dropWhile(_ ne s).drop(1)
  }

  def ofTrace(t: Int): Seq[Span] = spans.filter(_.trace == t).toSeq

  private def depth(s: Span, byId: Map[Int, Span]): Int =
    if (s.parent < 0) 0 else 1 + byId.get(s.parent).map(depth(_, byId)).getOrElse(0)

  /** Charge every job recorded by `tap` to the deepest span of trace `t`
    * whose interval holds the job's start. The benchmark drives Spark from
    * one thread at a time, so the interval alone identifies the caller. */
  def attribute(t: Int, tap: JobTap): Unit = {
    val ss = ofTrace(t)
    val byId = ss.map(s => s.id -> s).toMap
    val ordered = ss.sortBy(s => (-depth(s, byId), -s.startMs))
    tap.snapshot.foreach { j =>
      ordered.find(s => s.startMs <= j.startMs && j.startMs <= s.endMs).foreach { s =>
        s.jobs += 1
        s.taskS += j.taskMs / 1e3
        s.shuffleMb += (j.shuffleWrite + j.shuffleRead) / 1e6
        s.spillMb += j.spill / 1e6
        s.outMb += j.outBytes / 1e6
      }
    }
  }

  /** Largest share by which a parent's children fall short of (or
    * exceed) the parent, over trace `t`; 0 when no span has children. */
  def childGap(t: Int): Double = {
    val ss = ofTrace(t)
    val gaps = ss.flatMap { p =>
      val kids = ss.filter(_.parent == p.id)
      if (kids.isEmpty || p.wallS <= 0) None
      else Some(math.abs(p.wallS - kids.map(_.wallS).sum) / p.wallS)
    }
    if (gaps.isEmpty) 0.0 else gaps.max
  }

  def toJson: String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
    s"""{"id": ${s.id}, "trace": ${s.trace}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
      s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "wall_s": ${Json.num(s.wallS)}, """ +
      s""""jobs": ${s.jobs}, "task_s": ${Json.num(s.taskS)}, "shuffle_mb": ${Json.num(s.shuffleMb)}, """ +
      s""""spill_mb": ${Json.num(s.spillMb)}, "out_mb": ${Json.num(s.outMb)}, "attrs": {$attrs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** SparkListener that keeps every job's start and the task metrics of its
  * stages, plus every SQL execution's span, call site and plan text. */
final class JobTap extends SparkListener {
  final class JobRec(val startMs: Long) {
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var outBytes = 0L
  }
  final class ExecRec(val id: Long, val root: Long, val startMs: Long,
      val callSite: String, val plan: String) {
    var endMs: Long = -1L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val r = new JobRec(e.time)
    jobs(e.jobId) = r
    e.stageIds.foreach(s => stageJob(s) = r)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { r =>
      r.taskMs += m.executorRunTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.diskBytesSpilled
      r.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new ExecRec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time, s.details,
          s.physicalPlanDescription)
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach(_.endMs = x.time)
      case _ =>
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)
  def executions: Seq[ExecRec] = synchronized(execs.values.toSeq)
  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear(); execs.clear() }
}

/** Per-micro-batch progress of every streaming query that runs while it
  * is registered. */
final class StreamTap extends StreamingQueryListener {
  import StreamingQueryListener._
  private val buf = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized(buf += e.progress)
  def snapshot: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(buf.toSeq)
  def clear(): Unit = synchronized(buf.clear())
}

/** Live heap at a workload's stage boundaries: each mark forces a full
  * collection and reads the heap still in use, so the value is the data
  * the program holds there, not garbage awaiting collection. `heap_peak_mb`
  * reports the largest mark of a pass; the caller stops its clock for the
  * time a mark takes. */
object Heap {
  private var peak = 0L

  def reset(): Unit = peak = 0L

  /** Returns the nanoseconds the mark took. */
  def mark(): Long = {
    val t0 = System.nanoTime()
    // the second collection frees what the first handed to Spark's
    // ContextCleaner (broadcast and shuffle blocks of dropped plans),
    // whose thread runs in between
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    System.nanoTime() - t0
  }

  def peakMb: Double = peak / 1e6
}
