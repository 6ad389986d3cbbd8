package pipebench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{Pinned, SparkEntry}
import graft.pm.{BatchDiscovery, EnabledTime, Ep1, EventLogOps, Reporting, WaitingTimes}
import graft.rules.{ActivationRulesText, Features}
import graft.sources.EventLogCsv

/** Closed-loop benchmark main: one caller, each layer call starts after
  * the previous one returned, all in one JVM on `local[4]`.
  *
  * Usage: PipeBench --workload W --data DIR --work DIR --runs N --trace 0|1
  *
  * Prints READY once a session has run one trivial job (the caller times
  * the cold start up to that line). Then one untimed check run, which
  * writes the outputs the caller compares against their oracles and warms
  * the JVM up, and then exactly N timed runs. Every run gets a fresh
  * SparkContext in the already warm JVM, so no session-scoped memo or
  * cached block survives from one run into the next. Results go to
  * `DIR/result.json`, spans to `DIR/trace.json`.
  */
object PipeBench {
  val Cores = 4

  /** Where a run's results go: the timed runs materialize every output
    * with the `noop` format (nothing pruned, nothing stored); the check
    * run stores the outputs that have an oracle or a pinned fingerprint. */
  final class Sink(val dir: String, val check: Boolean) {
    def frame(name: String, df: DataFrame, checked: Boolean = true): Unit =
      if (check && checked) df.write.mode("overwrite").parquet(s"$dir/$name")
      else df.write.format("noop").mode("overwrite").save()
    def text(name: String, t: String): Unit =
      if (check) Files.writeString(Paths.get(s"$dir/$name.txt"), t)
  }

  final class LayerFailed(cause: Throwable) extends RuntimeException(cause)

  /** One run of a workload: counts calls and failures, wraps each call
    * into a layer in a span. A failed call ends the run; the calls it
    * never reached count as failed too. */
  final class Run(val id: Int, val spark: SparkSession, val sink: Sink, tracer: Tracer) {
    var attempted = 0
    var failed = 0
    val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
    def call[T](layer: String)(body: => T): T = {
      attempted += 1
      try tracer.span(layer, id)(body)
      catch { case e: Throwable =>
        failed += 1
        errors += s"$layer: ${e.toString.take(300)}"
        throw new LayerFailed(e)
      }
    }
  }

  /** @param oracles registry names whose oracle SQL the check run dumps */
  final case class Workload(calls: Int, body: (Run, String) => Unit, oracles: Seq[String])

  private val enabledCols = Seq("event_id", "case_id", "activity", "resource",
    "start_us", "end_us", "enabled_us")
  private val batchCols = enabledCols ++ Seq("batch_id", "batch_type")

  /** The paper chain as the graded PmQueries/RuleQueries path wires it. */
  private def pm(r: Run, data: String): Unit = {
    val s = r.spark
    val en = r.call("pm.EnabledTime.withEnabled") {
      val f = Pinned.stage(EnabledTime.withEnabled(EventLogOps.fromEvents(s, data)))
      r.sink.frame("pm_enabled", f.select(enabledCols.map(col): _*)); f
    }
    val seg = r.call("pm.BatchDiscovery.segment") {
      val f = Pinned.stage(BatchDiscovery.segment(en))
      r.sink.frame("segment", f, checked = false); f
    }
    val disc = r.call("pm.BatchDiscovery.discoverFromSeg") {
      val f = Pinned.stage(BatchDiscovery.discoverFromSeg(seg))
      r.sink.frame("pm_batches", f.select(batchCols.map(col): _*)); f
    }
    r.call("pm.BatchDiscovery.discoverFullFromStages") {
      val f = BatchDiscovery.discoverFullFromStages(en, seg)
      r.sink.frame("pm_sp_batches", f.select(batchCols.map(col): _*))
      Pinned.releaseFrame(f)
    }
    r.call("pm.WaitingTimes.batchCaseWT") {
      r.sink.frame("pm_wt", WaitingTimes.batchCaseWT(disc))
    }
    r.call("pm.Reporting.render") {
      val text = Reporting.render(disc)
      r.sink.text("report", text)
      if (r.sink.check) {
        import s.implicits._
        r.sink.frame("pm_report_text", text.split("\n", -1).toSeq.zipWithIndex
          .map { case (l, i) => ((i + 1).toLong, l) }.toDF("line_no", "line"))
      }
    }
    val feats = r.call("rules.Features.featuresTable") {
      val f = Features.featuresTable(disc)
      r.sink.frame("ar_features", f); f
    }
    r.call("rules.ActivationRulesText.render") {
      r.sink.text("rules", ActivationRulesText.render(feats))
    }
    Seq(en, seg, disc, feats).foreach(Pinned.releaseFrame)
  }

  /** The EP1 entry path of `Ep1.main` on the CSV twin of the same events:
    * CSV scan + analysis, then the reference-layout gzip CSV artifact. */
  private def ep1(r: Run, data: String): Unit = {
    val analyzed = r.call("pm.Ep1.analyze") {
      val f = Pinned.stage(Ep1.analyze(EventLogCsv.read(r.spark, s"$data/events.csv.gz")))
      r.sink.frame("analyzed", f, checked = false); f
    }
    r.call("sources.EventLogCsv.writeCsvGz") {
      EventLogCsv.writeCsvGz(Ep1.wtLogView(analyzed), s"${r.sink.dir}/wts_csv")
    }
    Pinned.releaseFrame(analyzed)
  }

  val corpusQueries: Seq[String] = Seq(
    "j2_minhash_sigs", "j2_neardup_groups", "j2_neardup_pairs", "j3_semdedup_inc_upsert2",
    "j4_quality_clf", "j7_split_leak", "j7_trainset")

  private val extLayer = Map("j2" -> "ext.Dedup", "j3" -> "ext.Similarity",
    "j4" -> "ext.TextOps", "j7" -> "ext.Pipeline")

  /** Registry calls in name order over one corpus, sharing one session. */
  private def corpus(r: Run, data: String): Unit =
    corpusQueries.foreach { q =>
      r.call(extLayer(q.take(2))) { r.sink.frame(q, SparkEntry.queries(q)(r.spark, data)) }
    }

  val workloads: Map[String, Workload] = Map(
    "paper_2k" -> Workload(10, (r, data) => { pm(r, data); ep1(r, data) },
      Seq("pm_enabled", "pm_batches", "pm_sp_batches", "pm_wt", "pm_report_text", "ar_features")),
    "corpus_ingest" -> Workload(corpusQueries.size, corpus, corpusQueries))

  def newSession(work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class RunResult(id: Int, kind: String, wallS: Double, blockMbPeak: Double,
                             attempted: Int, failed: Int, errors: Seq[String])

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opt("work")
    val wl = workloads(opt("workload"))
    val data = opt("data")
    val timedRuns = opt("runs").toInt
    val tracer = new Tracer(opt("trace") == "1")
    val checkDir = s"$work/check"
    val scratchDir = s"$work/out"
    Files.createDirectories(Paths.get(checkDir))
    Files.createDirectories(Paths.get(scratchDir))

    var spark = newSession(work)
    spark.range(1).count()
    println("READY")
    System.out.flush()

    val results = mutable.ArrayBuffer.empty[RunResult]
    def once(id: Int, kind: String): Unit = {
      if (spark == null) spark = newSession(work)
      val listener = tracer.attach(spark.sparkContext)
      val r = new Run(id, spark, new Sink(if (kind == "check") checkDir else scratchDir, kind == "check"), tracer)
      if (kind == "timed") quiesce()
      val t0 = System.nanoTime()
      try tracer.span("run", id)(wl.body(r, data))
      catch { case _: LayerFailed => r.failed += wl.calls - r.attempted; r.attempted = wl.calls }
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.BusAccess.drain(spark.sparkContext)
      results += RunResult(id, kind, wall, listener.peakBytes / 1048576.0, r.attempted, r.failed, r.errors.toSeq)
      System.err.println(f"[pipebench] run $id ($kind) $wall%.3f s, ${r.failed}/${r.attempted} failed")
      Pinned.release(spark)
      spark.stop()
      spark = null
    }

    once(0, "check")
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      wl.oracles.filter(oracle.contains).map(n => s"${q(n)}:${q(oracle(n))}").mkString("{", ",\n", "}\n"))
    (1 to timedRuns).foreach(once(_, "timed"))
    Files.writeString(Paths.get(s"$work/result.json"), resultJson(results.toSeq, tracer))
    Files.writeString(Paths.get(s"$work/trace.json"), traceJson(tracer))
  }

  /** Let the previous run's garbage and queued JIT compilations settle
    * before a timed run starts: collect, then wait (at most 1 s) until
    * the JIT's total compile time has not moved for 300 ms. */
  private def quiesce(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var still = 0
    while (still < 3 && System.nanoTime() - t0 < 1000000000L) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now == last) still += 1 else { still = 0; last = now }
    }
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Per run: wall, block peak, call counts, and per layer the sums over
    * that layer's spans (when tracing). */
  private def resultJson(rs: Seq[RunResult], tracer: Tracer): String = {
    val runs = rs.map { r =>
      val layers = tracer.spans.filter(s => s.run == r.id && s.parent >= 0).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (name, ss) =>
          val wall = ss.map(_.wallS).sum
          val task = ss.map(_.taskMs).sum / 1e3
          q(name) + ":{" + Seq(
            "wall_s" -> wall, "driver_s" -> ss.map(_.driverS).sum, "jobs" -> ss.map(_.jobs).sum.toDouble,
            "task_s" -> task, "core_util" -> (if (wall > 0) task / (wall * Cores) else 0.0),
            "shuffle_mb" -> ss.map(_.shuffleBytes).sum / 1048576.0,
            "spill_mb" -> ss.map(_.spillBytes).sum / 1048576.0,
            "failed_tasks" -> ss.map(_.failedTasks).sum.toDouble
          ).map { case (k, v) => s"${q(k)}:$v" }.mkString(",") + "}"
        }
      val root = tracer.spans.find(s => s.run == r.id && s.parent < 0)
      s"""{"id":${r.id},"kind":${q(r.kind)},"wall_s":${r.wallS},"block_mb_peak":${r.blockMbPeak},""" +
        s""""attempted":${r.attempted},"failed":${r.failed},"jobs":${root.map(_.jobs).getOrElse(0)},""" +
        s""""errors":[${r.errors.map(q).mkString(",")}],"layers":{${layers.mkString(",")}}}"""
    }
    s"""{"tracing":${tracer.tracing},"runs":[${runs.mkString(",\n")}]}""" + "\n"
  }

  private def traceJson(tracer: Tracer): String =
    tracer.spans.map { s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"run":${s.run},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},"jobs":${s.jobs},""" +
        s""""task_s":${s.taskMs / 1e3},"driver_s":${s.driverS}}"""
    }.mkString("[", ",\n", "]\n")
}
