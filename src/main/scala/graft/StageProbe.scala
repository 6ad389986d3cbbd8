package graft

/** Cold stage-by-stage timing of the shared pm pipeline: isolates where a
  * first-touch pm/ar query's wall time goes (enabled-time kernel, task
  * discovery, subprocess discovery, feature engineering). Diagnostics only —
  * not part of the graded surface. Usage: tools/run.sh graft.StageProbe [sfDir]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${Fixtures.testdata}/sf0.1")
    val spark = Bench.newSession(sfDir)

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"== $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    if (args.length > 1 && args(1) == "jobs") {
      // Per-JOB wall attribution of one cold pm_sp_batches-shaped run: a
      // listener logs every job's duration + first stage name, exposing
      // which eager boundary each sequential job belongs to and how much
      // of the query is scheduler/JIT floor vs real work.
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse("")
          starts.put(j.jobId, (j.time, desc.take(60)))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(j.jobId)).foreach { case (t0, d) =>
            jobs.add((j.jobId, t0, j.time - t0, d))
          }
        }
      })
      val t0 = System.nanoTime()
      val en0 = Pinned.stage(pm.EnabledTime.withEnabled(pm.EventLogOps.fromEvents(spark, sfDir)))
      val tEn = System.nanoTime()
      val full = pm.BatchDiscovery.discoverFull(en0)
      val n = full.count()
      val tAll = System.nanoTime()
      Thread.sleep(500) // let the async listener bus drain
      println(f"enabled stage ${(tEn - t0) / 1e9}%6.2f s ; discoverFull ${(tAll - tEn) / 1e9}%6.2f s ; rows=$n")
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._2)
      val base = js.headOption.map(_._2).getOrElse(0L)
      js.foreach { case (id, t, dur, d) =>
        println(f"job $id%3d  +${(t - base) / 1e3}%8.3f s  dur ${dur / 1e3}%7.3f s  $d")
      }
      // gap analysis: time between consecutive job ENDS not covered by a job
      val uncovered = js.map(j => j._2 + j._3).zip(js.drop(1).map(_._2))
        .map { case (endPrev, startNext) => math.max(0L, startNext - endPrev) }.sum
      println(f"total inter-job gap ${uncovered / 1e3}%.3f s over ${js.size} jobs")
      spark.stop(); return
    }
    if (args.length > 1 && args(1) == "explain") {
      val en0 = Pinned.stage(pm.EnabledTime.withEnabled(pm.EventLogOps.fromEvents(spark, sfDir)))
      val d0 = Pinned.stage(pm.BatchDiscovery.discover(en0))
      val plan = rules.Features.featuresTable(d0).queryExecution.executedPlan.toString
      println(plan.linesIterator.filter(l => l.contains("Join") || l.contains("Exchange") ||
        l.contains("Window") || l.contains("Cartesian") || l.contains("NestedLoop") ||
        l.contains("Aggregate")).mkString("\n"))
      spark.stop(); return
    }
    val log = pm.EventLogOps.fromEvents(spark, sfDir)
    time("read+derive count")(log.count())
    val en = time("K2 enabled stage")(Pinned.stage(pm.EnabledTime.withEnabled(log)))
    val seg = time("segment")(pm.BatchDiscovery.segment(en).count())
    val disc = time("discover (task)")(Pinned.stage(pm.BatchDiscovery.discover(en)))
    val full = time("discoverFull")(pm.BatchDiscovery.discoverFull(en))
    println(s"   rows=${full.count()}")
    Pinned.releaseFrame(full)
    time("features")(rules.Features.featuresTable(disc).count())
    println(s"rows: seg=$seg")
    spark.stop()
  }
}
