package graft.pm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{EventLogCsv, LogSchema}

/** EP1 end-to-end: the reference's `analyze_batches()` surface
  * (analysis.py:41-105) producing the canonical `*_WTs.csv.gz` artifact —
  * event grain + batch columns + the six waiting-time durations
  * (+ checkpoint columns when requested, config.py:40-42,82).
  */
object Ep1 {
  /** Stages 2–6 on a canonical log: enabled times (computed unless already
    * present), batch discovery, then the naive-variant WT decomposition
    * written to every event of its (batch, case) inside the one key-sorted
    * WT pass ([[WaitingTimes.eventWT]]) — the reference's write-back at
    * analysis.py:82-95 with no join. The pass reads the discovered events
    * in the partitions discovery left (each batch in one), so it sorts
    * locally with no exchange. Unbatched events carry zero durations
    * (analysis.py:53-58 initialization). Every other column of `log`, such
    * as the original case string `case_str`, rides the K2 case shuffle and
    * discovery's two shuffles; nothing is staged, so a caller with
    * several consumers stages the result. */
  def analyze(log: DataFrame, checkpoints: Boolean = false): DataFrame = {
    val en = if (log.columns.contains("enabled_us")) log else EnabledTime.withEnabled(log)
    val wt = WaitingTimes.eventWT(BatchDiscovery.discoverFull(en), checkpoints, clustered = true)
    // the numeric artifact's column order: the event and its batch-case key
    // first, the original case string last
    val front = Seq("event_id", "batch_id", "case_id")
    val back = wt.columns.filter(_ == "case_str").toSeq
    wt.select((front ++ wt.columns.filterNot((front ++ back).contains) ++ back).map(col): _*)
  }

  /** pandas-Timedelta rendering of a micros duration: `D days HH:MM:SS` with
    * `.ffffff` only when sub-second precision exists (discovery.py:227-232 /
    * the golden `*_WTs.csv.gz` format). */
  def durStr(us: Column): Column = {
    val days = floor(us / 86400000000L).cast("long")
    val rem = us - days * 86400000000L
    val h = floor(rem / 3600000000L).cast("long")
    val m = floor(rem % 3600000000L / 60000000L).cast("long")
    val s = floor(rem % 60000000L / 1000000L).cast("long")
    val frac = (rem % 1000000L).cast("long")
    concat(
      days.cast("string"), lit(" days "),
      lpad(h.cast("string"), 2, "0"), lit(":"),
      lpad(m.cast("string"), 2, "0"), lit(":"),
      lpad(s.cast("string"), 2, "0"),
      when(frac > 0, concat(lit("."), lpad(frac.cast("string"), 6, "0"))).otherwise(lit("")))
  }

  /** UTC timestamp rendering as pandas prints tz-aware columns:
    * `yyyy-MM-dd HH:mm:ss+00:00` (golden header rows). */
  private def tsStr(usCol: Column): Column =
    concat(date_format(timestamp_micros(usCol), "yyyy-MM-dd HH:mm:ss"), lit("+00:00"))

  /** The `*_WTs.csv.gz` layout: reference column order and renderings
    * (FIXTURES.md §2). Input must be `analyze` output carrying `case_str`. */
  def wtLogView(analyzed: DataFrame): DataFrame = {
    import analyzed.sparkSession.implicits._
    analyzed.select(
      $"case_str".as("case_id"),
      $"activity".as("Activity"),
      tsStr($"enabled_us").as("enabled_time"),
      tsStr($"start_us").as("start_time"),
      tsStr($"end_us").as("end_time"),
      $"resource".as("Resource"),
      // pandas float64 repr of the nullable numeric id ("203.0" / empty)
      when($"batch_id".isNull, lit(null: String))
        .otherwise(concat($"batch_id".cast("string"), lit(".0"))).as("batch_instance_id"),
      $"batch_type".as("batch_instance_type"),
      durStr($"batch_pt_us").as("batch_pt"),
      durStr($"batch_wt_us").as("batch_wt"),
      durStr($"batch_total_wt_us").as("batch_total_wt"),
      durStr($"batch_creation_wt_us").as("batch_creation_wt"),
      durStr($"batch_ready_wt_us").as("batch_ready_wt"),
      durStr($"batch_other_wt_us").as("batch_other_wt"))
  }

  /** Run EP1 on a reference-format CSV log and write the WTs artifact
    * (gzip CSV, reference layout) plus a numeric parquet twin. Usage:
    * Ep1Main <input csv[.gz]> <outDir> [enabledColumnName]
    * SPARK_GRAFT_NUM_FILES shards both sinks (default 1 = the reference's
    * single-file artifacts; 0 = keep plan partitioning, the 100-TB mode). */
  def main(args: Array[String]): Unit = {
    val input = args(0)
    val outDir = args(1)
    val numFiles = sys.env.getOrElse("SPARK_GRAFT_NUM_FILES", "1").toInt
    val schema = if (args.length > 2) LogSchema(enabled = Some(args(2))) else LogSchema()
    val cpus = graft.Bench.defaultCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val analyzed = graft.Pinned.stage(analyze(EventLogCsv.read(spark, input, schema)))
    val pq = if (numFiles <= 0) analyzed else analyzed.coalesce(numFiles)
    pq.write.mode("overwrite").parquet(s"$outDir/wts.parquet")
    EventLogCsv.writeCsvGz(wtLogView(analyzed), s"$outDir/wts_csv", numFiles)
    graft.Pinned.releaseFrame(analyzed)
    graft.Pinned.release(spark)
    spark.stop()
  }
}
