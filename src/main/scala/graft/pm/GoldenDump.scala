package graft.pm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.{EventLogCsv, LogSchema}

/** Diagnostic main: dump the engine's event-grain batch assignment for the
  * reference goldens (Production / Loan) to parquet, keyed so a pandas diff
  * against the golden `_WTs.csv.gz` outputs can attribute every
  * instance-count delta
  * to a concrete (resource, activity, interval) group. Used to tune the
  * subprocess-candidate enumeration against the goldens (BAMA
  * `subsequence_method="all"`, batch_detection.R:64-65). */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/golden_dump")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def dump(log: org.apache.spark.sql.DataFrame, minSize: Int, name: String): Unit = {
      val en = EnabledTime.withEnabled(
        log.select($"event_id", $"case_id", $"activity", $"resource", $"start_us", $"end_us"))
      BatchDiscovery.discoverFull(en, minSize)
        .join(log.select($"event_id", $"case_str"), Seq("event_id"))
        .select($"case_str", $"activity", $"resource",
          timestamp_micros($"start_us").as("start_ts"),
          timestamp_micros($"end_us").as("end_ts"),
          $"enabled_us", $"batch_id", $"batch_type")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      graft.Pinned.release(spark)
    }

    dump(EventLogCsv.read(spark, s"${graft.Fixtures.reference}/logs/Production.csv.gz"), 2, "production")
    if (args.length > 1 && args(1) == "loan")
      dump(EventLogCsv.read(spark, s"${graft.Fixtures.reference}/logs/Loan_Application_batched.csv.gz",
        LogSchema(enabled = Some("enabled_time"), cleanActivity = true)), 10, "loan")
    spark.stop()
  }
}
