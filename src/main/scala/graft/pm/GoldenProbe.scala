package graft.pm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.{EventLogCsv, LogSchema}

/** Diagnostic main: instance counts + enabled-time agreement vs the golden
  * outputs, with wall timings. Validates (a) the explain-string guard
  * (spark.sql.maxPlanStringLength) bounds per-action plan-description cost
  * on discoverFull's self-referencing plan, (b) the round-4 golden-exactness
  * fixes (input-order tie-breaks, strict C link, zero-duration
  * self-enable exclusion). */
object GoldenProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "4096")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def run(name: String, log: org.apache.spark.sql.DataFrame, minSize: Int): Unit = {
      val t0 = System.nanoTime()
      val en = EnabledTime.withEnabled(
        log.select($"event_id", $"case_id", $"activity", $"resource", $"start_us", $"end_us"))
      val d = graft.Pinned.stage(BatchDiscovery.discoverFull(en, minSize))
      val n = d.filter($"batch_id".isNotNull).select("batch_id").distinct().count()
      val ev = d.filter($"batch_id".isNotNull).count()
      println(f"== $name: $n instances, $ev batched events, ${(System.nanoTime() - t0) / 1e9}%.1f s")
      graft.Pinned.releaseFrame(d); graft.Pinned.release(spark)
    }

    if (args.contains("report")) {
      val log = EventLogCsv.read(spark, s"${graft.Fixtures.reference}/logs/Production.csv.gz")
      val en = EnabledTime.withEnabled(
        log.select($"event_id", $"case_id", $"activity", $"resource", $"start_us", $"end_us"))
      val d = graft.Pinned.stage(BatchDiscovery.discoverFull(en))
      println("=== REPORT ===")
      println(Reporting.render(d))
      println("=== RULES ===")
      println(graft.rules.ActivationRulesText.render(graft.rules.Features.featuresTable(d)))
      graft.Pinned.releaseFrame(d); graft.Pinned.release(spark)
      spark.stop(); return
    }
    run("Production (golden 485 inst / 1244 ev)",
      EventLogCsv.read(spark, s"${graft.Fixtures.reference}/logs/Production.csv.gz"), 2)
    if (args.contains("loan"))
      run("Loan (golden 587 inst / 7635 ev)",
        EventLogCsv.read(spark, s"${graft.Fixtures.reference}/logs/Loan_Application_batched.csv.gz",
          LogSchema(enabled = Some("enabled_time"), cleanActivity = true)), 10)
    spark.stop()
  }
}
