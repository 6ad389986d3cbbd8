package graft

/** Per-JOB wall attribution for any declared query — diagnostics only,
  * not part of the graded surface. Runs each named query cold in its own
  * session (same confs as Bench) with a job listener, printing every
  * Spark job's start offset, duration and description, plus the
  * uncovered (driver-side) gaps between jobs. This is the round-17
  * optimization loop's "which stage is the time in" tool (guide §1/§7).
  *
  * Usage: tools/run.sh graft.QueryProbe [sfDir] q1 [q2 ...]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${Fixtures.testdata}/sf0.1")
    val names = args.drop(1).toSeq
    names.foreach { n =>
      // Bench's warmed session, so the first job isn't charged startup cost
      val spark = Bench.newSession(sfDir)

      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String, Int)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
      // per-STAGE attribution: (stageId, wall ms, tasks, task-time ms,
      // shuffle read MB, shuffle write MB, name) — the job grain above is
      // too coarse once AQE splits a query into dozens of anonymous jobs
      final case class St(id: Int, wall: Long, tasks: Int, taskMs: Long,
                          srMB: Double, swMB: Double, name: String)
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).orElse(
            j.stageInfos.lastOption.map(_.name)).getOrElse("")
          starts.put(j.jobId, (j.time, desc.take(110), j.stageInfos.map(_.numTasks).sum))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(j.jobId)).foreach { case (t0, d, nt) =>
            jobs.add((j.jobId, t0, j.time - t0, d, nt))
          }
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(-1L)
          val m = i.taskMetrics
          stages.add(St(i.stageId, wall, i.numTasks, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            i.name.take(90)))
        }
      })
      // captures the count action's own QueryExecution (metrics live on the
      // EXECUTED plan instance, which .count() builds internally)
      val lastQe = new java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.execution.QueryExecution](null)
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          lastQe.set(qe)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
      SparkEntry.queries.get(n) match {
        case None => println(s"unknown query: $n")
        case Some(fn) =>
          val t0 = System.nanoTime()
          val rows = fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(700) // drain the async listener bus
          import scala.jdk.CollectionConverters._
          val js = jobs.asScala.toSeq.sortBy(_._2)
          println(s"\n========== $n  wall=${f"$wall%.2f"}s rows=$rows jobs=${js.size} ==========")
          val base = js.headOption.map(_._2).getOrElse(0L)
          js.foreach { case (id, t, dur, d, nt) =>
            println(f"job $id%4d  +${(t - base) / 1e3}%8.3f s  dur ${dur / 1e3}%8.3f s  tasks $nt%4d  $d")
          }
          val covered = js.map(_._3).sum / 1e3
          println(f"covered by jobs: $covered%.2f s of $wall%.2f s (gap = driver/plan time)")
          val ss = stages.asScala.toSeq.sortBy(-_.wall).take(25)
          println("top stages by wall:")
          ss.foreach { s =>
            println(f"  stage ${s.id}%4d wall ${s.wall / 1e3}%7.2f s tasks ${s.tasks}%5d " +
              f"taskSum ${s.taskMs / 1e3}%8.2f s sr ${s.srMB}%8.1f MB sw ${s.swMB}%8.1f MB  ${s.name}")
          }
          stages.clear()
          // operator-level attribution: walk the executed plan (descending
          // into AQE stages, cached relations and expression subqueries) and
          // print every node whose metrics carry real time or rows — the
          // SQL-tab view, in text. Codegen spans' "duration" is the per-
          // pipeline wall sum across tasks; dedup by identity so shared
          // cached subtrees print once.
          if (sys.env.contains("SPARK_GRAFT_PROBE_OPS")) {
            import org.apache.spark.sql.execution._
            val seen = java.util.Collections.newSetFromMap(
              new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
            def walk(p: SparkPlan, d: Int): Unit = {
              if (!seen.add(p)) { println("  " * d + s"[shared] ${p.nodeName}"); return }
              val ms = p.metrics.toSeq
                .filter { case (k, v) => v.value > 0 && {
                  val kl = k.toLowerCase
                  kl.contains("time") || kl.contains("duration") ||
                    k == "numOutputRows" || kl.contains("bytes") || kl.contains("spill") } }
                .sortBy(_._1)
                .map { case (k, v) => s"$k=${v.value}" }.mkString(" ")
              println("  " * d + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
              val kids: Seq[SparkPlan] = p match {
                case a: adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
                case q: adaptive.QueryStageExec => Seq(q.plan)
                case s: columnar.InMemoryTableScanExec => Seq(s.relation.cachedPlan)
                case r: ReusedSubqueryExec => Seq(r.child)
                case other => other.children
              }
              val subs = p.subqueries.flatMap {
                case se: BaseSubqueryExec => Seq(se.child)
                case other => Seq(other)
              }
              (subs ++ kids).foreach(walk(_, d + 1))
            }
            lastQe.get() match {
              case null => println("(no captured QueryExecution)")
              case qe => walk(qe.executedPlan, 0)
            }
          }
      }
      Pinned.release(spark)
      spark.stop()
    }
  }
}
