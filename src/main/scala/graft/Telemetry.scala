package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.graftbridge.Bus

/** Run telemetry by span, the one telemetry path of the mains and tests.
  *
  *   - Attribution is by thread, not by clock. [[Telemetry.span]] sets the
  *     local property [[Telemetry.SpanProperty]] on the calling thread and
  *     restores the previous value afterwards. Spark copies local
  *     properties onto the jobs a thread starts, their stages and the
  *     broadcast threads of its queries, so the listener charges each job,
  *     stage and task to the span it ran for, also for concurrent query
  *     threads and nested spans (a memo build inside a query).
  *   - Per SQL execution with at least one job, the span also gets the
  *     planning phases of its `QueryExecution.tracker` and the node counts
  *     of its executed plan ([[planCounts]]). Plan strings are never
  *     printed: that is the cost `Pinned.stage` exists to avoid.
  *   - `compiles` counts the Janino compilations that finished during the
  *     span, on any thread of the JVM (driver and local executors): the
  *     count delta of `CodegenMetrics.METRIC_COMPILATION_TIME`. That
  *     metric is JVM-wide, so the count is exact only when spans do not
  *     overlap: concurrent spans each count the other's compiles, and a
  *     parent span counts those of the spans nested in it.
  *   - The listener bus is drained only when rows are read
  *     ([[Telemetry.rows]]), never at a span boundary, so a span's wall
  *     carries no tracing wait.
  *   - On a context with no attached recorder a span only runs its body.
  */
object Telemetry {
  /** The local property holding the id of the span a thread is in. */
  val SpanProperty = "graft.span"

  private val recorders = new java.util.concurrent.ConcurrentHashMap[SparkContext, Telemetry]()

  /** The recorder of `s`'s context, registered on its first attach. */
  def attach(s: SparkSession): Telemetry = {
    recorders.keySet.removeIf(_.isStopped)
    recorders.computeIfAbsent(s.sparkContext, { sc =>
      val t = new Telemetry(sc)
      sc.addSparkListener(t)
      t
    })
  }

  /** Runs `body` in a span named `name`, charged to the recorder of `s`'s
    * context when one is attached. */
  def span[A](s: SparkSession, name: String)(body: => A): A =
    recorders.get(s.sparkContext) match {
      case null => body
      case t => t.run(name, body)
    }

  /** Executed-plan node counts by kind. */
  final case class PlanCounts(exchange: Int = 0, smj: Int = 0, shj: Int = 0, bhj: Int = 0,
                              bnlj: Int = 0, cartesian: Int = 0, nodes: Int = 0) {
    def +(o: PlanCounts): PlanCounts = PlanCounts(exchange + o.exchange, smj + o.smj,
      shj + o.shj, bhj + o.bhj, bnlj + o.bnlj, cartesian + o.cartesian, nodes + o.nodes)
    def json: String = s"""{"exchange":$exchange,"smj":$smj,"shj":$shj,"bhj":$bhj,""" +
      s""""bnlj":$bnlj,"cartesian":$cartesian,"nodes":$nodes}"""
  }

  /** `p` without its adaptive-plan and query-stage wrappers. */
  def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  /** Every node of an executed plan, wrappers removed: the one AQE-aware
    * walk, through adaptive plans, query stages and subqueries. A tree
    * walk, not a plan-string match, which would undercount once the string
    * is truncated at `spark.sql.maxPlanStringLength`. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val r = unwrap(p)
    r +: (r.children ++ r.subqueries).flatMap(planNodes)
  }

  def planCounts(p: SparkPlan): PlanCounts = {
    val ns = planNodes(p)
    def n(f: SparkPlan => Boolean) = ns.count(f)
    PlanCounts(n(_.isInstanceOf[Exchange]), n(_.isInstanceOf[SortMergeJoinExec]),
      n(_.isInstanceOf[ShuffledHashJoinExec]), n(_.isInstanceOf[BroadcastHashJoinExec]),
      n(_.isInstanceOf[BroadcastNestedLoopJoinExec]), n(_.isInstanceOf[CartesianProductExec]),
      ns.size)
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One span's counters. The listener writes them; read them through
    * [[Telemetry.rows]], which drains the bus first. */
  final class Row private[Telemetry] (val name: String, parentRow: Option[Row]) {
    def parent: Option[String] = parentRow.map(_.name)
    private[Telemetry] val startMs = System.currentTimeMillis()
    private[Telemetry] var endMs = startMs
    private[Telemetry] val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    /** Intervals of the spans nested in this one (memo builds in a query). */
    private[Telemetry] val childIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    private[graft] var wallS = 0.0
    private[graft] var error: Option[String] = None
    private[graft] var jobs, stages, tasks, failedTasks, executions = 0
    private[graft] var taskMs, shuffleReadBytes, shuffleWriteBytes, spillBytes, compiles = 0L
    private[graft] val phaseMs = mutable.TreeMap.empty[String, Long]
    private[graft] var plan = PlanCounts()

    /** Wall minus the part of it that `intervals` (epoch ms) cover. */
    private def uncovered(intervals: Seq[(Long, Long)]): Double = {
      var covered, a, b = 0L
      intervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
          if (s > b) { covered += b - a; a = s; b = e } else b = math.max(b, e)
        }
      math.max(0.0, wallS - (covered + b - a) / 1e3)
    }

    /** Wall not covered by nested spans: the span's own share. */
    def selfS: Double = uncovered(childIntervals.toSeq)

    /** Own share of the wall not covered by the span's own jobs either. */
    def driverS: Double = uncovered((jobIntervals ++ childIntervals).toSeq)

    /** One JSON object; `lead` (e.g. `"pass":1`) goes first. */
    def json(lead: String = ""): String =
      "{" + (if (lead.isEmpty) "" else lead + ",") +
        s""""name":${jsonString(name)},"parent":${parent.map(jsonString).getOrElse("null")},""" +
        f""""wall_s":$wallS%.4f,"self_s":$selfS%.4f,"driver_s":$driverS%.4f,""" +
        s""""jobs":$jobs,"stages":$stages,""" +
        f""""tasks":$tasks,"task_s":${taskMs / 1e3}%.3f,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""failed_tasks":$failedTasks,"executions":$executions,"compiles":$compiles,""" +
        phaseMs.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("\"phases_ms\":{", ",", "},") +
        s""""plan":${plan.json},"error":${error.map(jsonString).getOrElse("null")}}"""
  }
}

/** The recorder of one SparkContext: its spans and the listener charging
  * them. Jobs, stages and tasks of no span go to one `(no span)` row. */
final class Telemetry private (sc: SparkContext) extends SparkListener {
  import Telemetry._

  private val spans = new java.util.concurrent.ConcurrentHashMap[String, Row]()
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val outside = new Row("(no span)", None)
  // listener-thread state: who owns each running job, stage and execution
  private val jobOwner = mutable.Map.empty[Int, (Row, Long)]
  private val stageOwner = mutable.Map.empty[Int, Row]
  private val execOwner = mutable.Map.empty[Long, Row]

  private[graft] def run[A](name: String, body: => A): A = {
    val prev = sc.getLocalProperty(SpanProperty)
    val parent = Option(prev).flatMap(p => Option(spans.get(p)))
    val row = new Row(name, parent)
    val id = ids.incrementAndGet().toString
    spans.put(id, row)
    opened.add(row)
    sc.setLocalProperty(SpanProperty, id)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => synchronized(row.error = Some(String.valueOf(e.getMessage))); throw e }
    finally {
      val wallS = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      synchronized {
        row.wallS = wallS
        row.compiles = compiles
        row.endMs = endMs
        parent.foreach(_.childIntervals += ((row.startMs, endMs)))
      }
      sc.setLocalProperty(SpanProperty, prev)
    }
  }

  /** Every span opened so far in opening order, then the `(no span)` row
    * when jobs ran outside every span. Drains the listener bus first, so it
    * throws when the bus does not empty in time. */
  def rows(): Seq[Row] = {
    Bus.drain(sc)
    synchronized(opened.asScala.toList ++ Some(outside).filter(_.jobs > 0))
  }

  /** [[rows]] as JSON objects led by `lead`, written under the recorder's
    * lock: a span still running (a hung query) reads as it stands, never
    * while the listener updates it. */
  def json(lead: String = ""): Seq[String] = {
    val rs = rows()
    synchronized(rs.map(_.json(lead)))
  }

  /** Stops recording: removes the listener and the context's registration. */
  def close(): Unit = {
    sc.removeSparkListener(this)
    recorders.remove(sc, this)
  }

  private def property(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  private def rowOf(props: java.util.Properties): Row =
    property(props, SpanProperty).flatMap(id => Option(spans.get(id))).getOrElse(outside)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val r = rowOf(e.properties)
    r.jobs += 1
    jobOwner(e.jobId) = (r, e.time)
    property(e.properties, SQLExecution.EXECUTION_ID_KEY).foreach(x => execOwner(x.toLong) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (r, t0) => r.jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val r = rowOf(e.properties)
    r.stages += 1
    stageOwner(e.stageInfo.stageId) = r
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stageOwner.getOrElse(e.stageId, outside)
    r.tasks += 1
    if (e.reason != org.apache.spark.Success) r.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      r.taskMs += m.executorRunTime
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = Bus.executionEnd(e).foreach {
    case (id, qe) => synchronized {
      execOwner.remove(id).foreach { r =>
        r.executions += 1
        qe.tracker.phases.foreach { case (k, v) => r.phaseMs(k) = r.phaseMs.getOrElse(k, 0L) + v.durationMs }
        // a failed execution may have no executed plan to walk
        try r.plan += planCounts(qe.executedPlan) catch { case _: Exception => }
      }
    }
  }
}
