package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Physical-to-logical column mapping for external event logs — the
  * reference's EventLogIDs indirection (config.py:14-42), resolved once at
  * ingestion into the engine's canonical columns. */
case class LogSchema(
    caseId: String = "case_id",
    activity: String = "Activity",
    start: String = "start_time",
    end: String = "end_time",
    resource: String = "Resource",
    enabled: Option[String] = None,
    /** strip + drop NBSP + collapse double spaces in activity names — the
      * reference's handoff preprocessing (handoff_batch.py:83), applied to
      * the Loan goldens but NOT the Production ones (main.py reads raw). */
    cleanActivity: Boolean = false)

/** A1/A2/A3 — gzip CSV event-log source/sink with UTC timestamp discipline
  * (main.py:14-16, discovery.py:227-232). Produces the canonical log grain:
  * case_id (hashed long), activity, resource (NOT_SET-filled,
  * batch_detection.R:50), start_us/end_us (+ enabled_us when present),
  * event_id (deterministic total-order row number). */
object EventLogCsv {
  /** The all-string schema Spark's CSV reader gives `path` with a header,
    * read with no job when `path` names one file, or a directory whose one
    * visible entry is a file (what [[writeCsvGz]] writes): that file's first
    * non-empty line is read on the driver through Hadoop's codec factory and
    * parsed by Spark's own CSV reader over a one-line local Dataset. None for
    * anything else (a glob, several files, subdirectories, a missing path,
    * no non-empty line): the scan then reads the header itself. */
  private[graft] def headerSchema(spark: SparkSession, path: String): Option[StructType] = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // the names Spark's file listing skips
    def hidden(f: FileStatus) = {
      val n = f.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    }
    Try(fs.getFileStatus(p)).toOption.flatMap { f =>
      if (f.isFile) Some(f)
      else fs.listStatus(p).filterNot(hidden) match {
        case Array(g) if g.isFile => Some(g)
        case _ => None
      }
    }.flatMap { f =>
      val codec = new CompressionCodecFactory(conf).getCodec(f.getPath)
      val raw = fs.open(f.getPath)
      val lines = new BufferedReader(new InputStreamReader(
        if (codec == null) raw else codec.createInputStream(raw), StandardCharsets.UTF_8))
      // Hadoop's line reader drops a UTF-8 byte-order mark that opens the file
      try (Option(lines.readLine()).map(_.stripPrefix("\uFEFF")).iterator ++
        Iterator.continually(lines.readLine()).takeWhile(_ != null)).find(_.trim.nonEmpty)
      finally lines.close()
    }.map(h => spark.read.option("header", "true").csv(Seq(h).toDS()).schema)
  }

  def read(spark: SparkSession, path: String, schema: LogSchema = LogSchema()): DataFrame = {
    val reader = spark.read.option("header", "true")
    val raw = headerSchema(spark, path).fold(reader)(reader.schema).csv(path)
    val withEnabled = schema.enabled match {
      case Some(en) => raw.withColumn("enabled_us", graft.Det.us(to_timestamp(col(en))))
      case None => raw
    }
    val base = withEnabled
      .withColumn("case_str", col(schema.caseId))
      .withColumn("case_id", xxhash64(col(schema.caseId)))
      .withColumn("activity",
        if (schema.cleanActivity)
          regexp_replace(regexp_replace(trim(col(schema.activity)),
            "\u00a0", ""), "  ", " ")
        else col(schema.activity))
      .withColumn("resource", coalesce(col(schema.resource), lit("NOT_SET")))
      .withColumn("start_us", graft.Det.us(to_timestamp(col(schema.start))))
      .withColumn("end_us", graft.Det.us(to_timestamp(col(schema.end))))
    // event_id = FILE ORDER (partition-ordered monotonic id). This is
    // load-bearing for golden parity: the reference stack (pandas sorts,
    // R's stable order) breaks every same-start tie by original row order,
    // and the concurrency oracle fitted against Production_WTs matches the
    // golden enabled times EXACTLY only with this tie-break (a value-sorted
    // rank mis-orders e.g. Case61's Stress Relief / T&M Q.C. pair and
    // flips their concurrency). Cheaper than a global rank too: no shuffle,
    // no sort — ids are non-dense across partitions, which nothing needs.
    //
    // ORDERING CONTRACT: "file order" holds only when the input is ONE
    // non-splittable file (a single .csv.gz — every reference log is).
    // With multiple files or splittable inputs Spark orders scan partitions
    // by split size DESCENDING, so ids stay UNIQUE but no longer follow
    // input order — fine for every query semantics here (ids are only a
    // tie-break salt), but golden byte-parity replays must feed a single
    // .csv.gz. (A sharded read that needed input order would zip a per-file
    // row number with input_file_name order instead.)
    val cols = Seq("event_id", "case_id", "case_str", "activity", "resource", "start_us", "end_us") ++
      (if (schema.enabled.isDefined) Seq("enabled_us") else Nil)
    base.withColumn("event_id", monotonically_increasing_id())
      .select(cols.map(col): _*)
  }

  /** Gzip CSV sink with the reference's timestamp format (A3).
    *
    * `numFiles = 1` (default) coalesces to a single part file for parity
    * with the reference's one-file artifacts — fine at reference scale but
    * a single-writer bottleneck at 100 TB. Pass `numFiles > 1` to shard
    * the write across that many tasks, or `numFiles = 0` to keep the
    * frame's existing partitioning (no coalesce at all — the right call
    * when the upstream plan already has cluster-scale parallelism). */
  def writeCsvGz(df: DataFrame, path: String, numFiles: Int = 1): Unit = {
    val out = if (numFiles <= 0) df else df.coalesce(numFiles)
    out.write.mode("overwrite")
      .option("header", "true").option("compression", "gzip")
      .csv(path)
  }
}
