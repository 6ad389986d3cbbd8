package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-graded queries for the CSV source/sink surface (SURVEY §2 A1-A3).
  *
  * The source is [[eventsCsv]], a gzip CSV twin of the harness `events`
  * log: the canonical log grain of [[graft.pm.EventLogOps.fromEvents]]
  * (case = user_id, activity = event_type, resource = r<user_id mod 4>,
  * end = ts + value minutes) rendered in the reference's column layout
  * (`case_id,start_time,end_time,Activity,Resource`, FIXTURES.md §1) with
  * ISO timestamps to the microsecond. Every `events.ts` has a sub-second
  * part, so a render to whole seconds would break every row. Each query
  * ingests the twin through [[EventLogCsv]]; the oracles derive the same
  * portable grain straight from the `events` parquet (the
  * `PmQueries.logCte` mapping, case id as text), so a sink, header,
  * compression, timestamp-render or timestamp-parse defect breaks the hash.
  *
  * Engine-internal derivations stay OUT of the compared schema: case_id is
  * an xxhash64 salt and event_id a partition-monotonic id, neither of which
  * DuckDB reproduces (and neither of which any cross-engine consumer should
  * depend on — the graded columns are the portable log grain).
  */
object CsvQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Per-dataset scratch directory under the JVM temp dir (overwritten by
    * each write, so one copy per dataset name). */
  private def scratchDir(prefix: String, d: String): String =
    sys.props("java.io.tmpdir") + "/" + prefix + new java.io.File(d).getName

  /** An ingested log in the reference's column layout and ISO format. */
  private def referenceLayout(log: DataFrame, caseId: Column): DataFrame = {
    def iso(us: Column) = date_format(graft.Det.tsNtz(us), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    log.select(caseId.as("case_id"),
      iso(col("start_us")).as("start_time"), iso(col("end_us")).as("end_time"),
      col("activity").as("Activity"), col("resource").as("Resource"))
  }

  /** The gzip CSV twin of dataset `d`'s `events` log: its directory, which
    * holds one non-splittable `.csv.gz` (so [[EventLogCsv.read]]'s
    * file-order contract holds). Written once per (session, dataset) through
    * the session memo, so queries built concurrently share one write. */
  def eventsCsv(s: SparkSession, d: String): String =
    graft.SessionMemo.of[String](s, d, "events_csv", _ => ()) {
      val dir = scratchDir("graft_events_csv_", d)
      EventLogCsv.writeCsvGz(referenceLayout(graft.pm.EventLogOps.fromEvents(s, d),
        col("case_id").cast("string")), dir)
      dir
    }

  /** Canonical portable projection of an ingested log. */
  private def portable(log: DataFrame): DataFrame =
    log.select(col("case_str"), col("activity"), col("resource"),
      col("start_us"), col("end_us"))

  val queries: Map[String, Q] = Map(
    // A1 — gzip CSV scan with header + EventLogIDs column indirection
    // (config.py:14-42): canonical columns, epoch-micro timestamps.
    "a1_csv_ingest" -> ((s, d) => portable(EventLogCsv.read(s, eventsCsv(s, d)))),

    // A2 — UTC timestamp discipline (discovery.py:227-232): the parsed
    // instants as TIMESTAMP_NTZ columns, not micros — grades the string →
    // timestamp mapping itself (a session-timezone leak would shift every
    // value; the oracle takes the instants from the parquet, timezone-free).
    "a2_csv_utc_parse" -> ((s, d) => {
      val log = EventLogCsv.read(s, eventsCsv(s, d))
      log.select(col("case_str"), col("activity"),
        graft.Det.tsNtz(col("start_us")).as("start_ts"),
        graft.Det.tsNtz(col("end_us")).as("end_ts"))
    }),

    // A3 — gzip CSV SINK round trip: render the ingested twin back to the
    // reference's column names and ISO format, write through the sink
    // (header + gzip, discovery.py:231-232), re-ingest the written
    // artifact, and emit the portable grain. The oracle derives the grain
    // from the parquet — any sink defect (quoting, header, compression,
    // timestamp rendering) surfaces as a hash break. Written to a
    // per-dataset temp dir; overwrite mode keeps the query idempotent.
    "a3_csv_roundtrip" -> ((s, d) => {
      val outDir = scratchDir("graft_a3_roundtrip_", d)
      val log = EventLogCsv.read(s, eventsCsv(s, d))
      EventLogCsv.writeCsvGz(referenceLayout(log, col("case_str")), outDir)
      portable(EventLogCsv.read(s, outDir))
    }))

  /** The portable grain of the `events` log (mirrors [[eventsCsv]]). */
  private val eventsLog =
    """SELECT CAST(user_id AS VARCHAR) AS case_str, event_type AS activity,
      |  concat('r', user_id % 4) AS resource, epoch_us(ts) AS start_us,
      |  epoch_us(ts) + CAST(round(value * 60000000.0) AS BIGINT) AS end_us
      |FROM events""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "a1_csv_ingest" -> eventsLog,

    "a2_csv_utc_parse" ->
      s"""SELECT case_str, activity,
         |  make_timestamp(start_us) AS start_ts, make_timestamp(end_us) AS end_ts
         |FROM ($eventsLog) log""".stripMargin,

    "a3_csv_roundtrip" -> eventsLog)
}
