package pipebench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One traced interval: a layer call, or the root span of a run. Times are
  * epoch milliseconds (the clock Spark stamps listener events with) plus a
  * monotonic wall duration. Counters are filled by [[PassListener]]. */
final class Span(val id: Int, val name: String, val parent: Int, val run: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var wallS: Double = 0.0
  var jobs: Int = 0
  var taskMs: Long = 0L
  var shuffleBytes: Long = 0L
  var spillBytes: Long = 0L
  var failedTasks: Int = 0
  /** [start, end] epoch-ms intervals of the jobs that started in this span. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val jobStart: mutable.Map[Int, Long] = mutable.Map.empty

  /** Wall time of the span not covered by any of its jobs. */
  def driverS: Double = {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, wallS - covered / 1e3)
  }
}

/** Per-run listener, registered on a fresh SparkContext.
  *
  * Always: tracks the bytes held by cached or checkpointed RDD blocks and
  * their peak. When tracing: charges jobs, task run time, shuffle, spill
  * and task failures to the span that was open when the event was
  * processed. Layer calls are sequential and the bus is drained before a
  * span closes, so that span is the one during which the work ran. */
final class PassListener(tracing: Boolean) extends SparkListener {
  @volatile var current: Span = _
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var held = 0L
  @volatile var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = e.blockUpdatedInfo.blockId match {
    case b: RDDBlockId =>
      val i = e.blockUpdatedInfo
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      held += now - blocks.getOrElse(b, 0L)
      if (now == 0L) blocks.remove(b) else blocks(b) = now
      if (held > peakBytes) peakBytes = held
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
    val s = current
    if (s != null) { s.jobs += 1; s.jobStart(e.jobId) = e.time }
    jobOwner(e.jobId) = s
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) {
    jobOwner.remove(e.jobId).filter(_ != null).foreach { s =>
      s.jobStart.remove(e.jobId).foreach(t0 => s.jobIntervals += ((t0, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) {
    val s = current
    if (s != null) {
      if (e.reason != org.apache.spark.Success) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val jobOwner = mutable.Map.empty[Int, Span]
}

/** Spans of one process, kept in memory and written out at the end. */
final class Tracer(val tracing: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var listener: PassListener = _
  private var sc: SparkContext = _
  private val stack = mutable.Stack.empty[Span]

  def attach(context: SparkContext): PassListener = {
    sc = context
    listener = new PassListener(tracing)
    sc.addSparkListener(listener)
    listener
  }

  private def drain(): Unit = org.apache.spark.BusAccess.drain(sc)

  /** Open a span (no-op when not tracing, except for the root span, whose
    * wall time every run reports). */
  def span[T](name: String, run: Int)(body: => T): T = {
    if (!tracing && stack.nonEmpty) return body
    if (tracing) drain()
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), run,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack.push(s)
    listener.current = s
    try body
    finally {
      if (tracing) drain()
      s.wallS = (System.nanoTime() - s.startNs) / 1e9
      s.endMs = System.currentTimeMillis()
      stack.pop()
      listener.current = stack.headOption.orNull
    }
  }
}
