package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the closing analytics queries (e4_funnel,
  * e5_cohort, cx_rolling, cx_analytics), which previously relied on the SQL
  * oracle gate alone. Each test writes a tiny events.parquet fixture and runs
  * the REAL `SparkEntry.queries` entry end-to-end — including the
  * `Tables.events` timestamp normalization — then checks against values
  * computed by hand:
  *
  *   - funnel: out-of-order stages must NOT count; equal timestamps must
  *   - cohort: day-1 retention across a midnight boundary (23:59:59 -> 00:00:01)
  *   - rolling: the RANGE frame must NOT bridge a day gap (the rows-vs-range
  *     discriminator the query comment promises)
  *   - analytics bundle: lag/lead/first_value/percent_rank/cume_dist with a
  *     ts tie broken by event_id
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private val SEC = 1000000L
  private val DAY = 86400L * SEC

  /** Run `body` on a dataset dir holding an events fixture; rows are
    * (event_id, tsMicros, user_id, event_type, value). */
  private def withEvents[A](rows: Seq[(Long, Long, Long, String, Double)])(body: String => A): A =
    SparkSuite.withTempDir("graft_analytics") { dir =>
      import spark.implicits._
      rows.toDF("event_id", "us", "user_id", "event_type", "value")
        .withColumn("ts", expr("cast(timestamp_micros(us) as timestamp_ntz)"))
        .withColumn("props", lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write.parquet(s"$dir/events.parquet")
      body(dir)
    }

  test("e4_funnel: out-of-order stages don't count; equal timestamps do") {
    withEvents(Seq(
      // user 1: clean click -> view -> purchase = stage 3
      (1L, 10 * SEC, 1L, "click", 0d),
      (2L, 20 * SEC, 1L, "view", 0d),
      (3L, 30 * SEC, 1L, "purchase", 0d),
      // user 2: view BEFORE the first click — must not count = stage 1
      (4L, 5 * SEC, 2L, "view", 0d),
      (5L, 10 * SEC, 2L, "click", 0d),
      // user 3: purchase before the first qualifying view = stage 2
      (6L, 10 * SEC, 3L, "click", 0d),
      (7L, 20 * SEC, 3L, "view", 0d),
      (8L, 15 * SEC, 3L, "purchase", 0d),
      // user 4: never clicks = stage 0
      (9L, 10 * SEC, 4L, "signup", 0d),
      // user 5: all three at the same instant — "at or after" = stage 3
      (10L, 10 * SEC, 5L, "click", 0d),
      (11L, 10 * SEC, 5L, "view", 0d),
      (12L, 10 * SEC, 5L, "purchase", 0d))) { dir =>
      val got = SparkEntry.queries("e4_funnel")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
    }
  }

  test("e5_cohort: day-1 retention across a midnight boundary") {
    withEvents(Seq(
      // user 1: last second of day 0, first second of day 1 (r1), day 7 (r7)
      (1L, DAY - 1 * SEC, 1L, "click", 0d),
      (2L, DAY + 1 * SEC, 1L, "view", 0d),
      (3L, 7 * DAY + 5 * SEC, 1L, "view", 0d),
      // user 2: day 0, returns day 2 only — neither r1 nor r7
      (4L, DAY / 2, 2L, "click", 0d),
      (5L, 2 * DAY + SEC, 2L, "view", 0d),
      // user 3: cohort day 1, returns day 8 (= c0 + 7)
      (6L, DAY + DAY / 2, 3L, "click", 0d),
      (7L, 8 * DAY + SEC, 3L, "view", 0d))) { dir =>
      val got = SparkEntry.queries("e5_cohort")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == Map(0L -> ((2L, 1L, 1L)), 1L -> ((1L, 0L, 1L))))
    }
  }

  test("cx_rolling: RANGE frame does not bridge a day gap") {
    withEvents(Seq(
      // "click": days 0 (n=2), 1 (n=1), 2 (n=3), then a gap to day 10 (n=1)
      (1L, 1 * SEC, 1L, "click", 1.5),
      (2L, 2 * SEC, 2L, "click", 1.5),
      (3L, DAY + SEC, 1L, "click", 1.5),
      (4L, 2 * DAY + 1 * SEC, 1L, "click", 1.5),
      (5L, 2 * DAY + 2 * SEC, 2L, "click", 1.5),
      (6L, 2 * DAY + 3 * SEC, 3L, "click", 1.5),
      (7L, 10 * DAY + SEC, 1L, "click", 1.5),
      // second partition: must not leak into "click"
      (8L, 1 * SEC, 1L, "view", 2.0))) { dir =>
      val got = SparkEntry.queries("cx_rolling")(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      assert(got(("click", 0L)) == ((2L, 2L, 3.0)))
      assert(got(("click", 1L)) == ((1L, 3L, 4.5)))
      assert(got(("click", 2L)) == ((3L, 6L, 9.0)))
      // day 10's RANGE -6..0 frame covers days 4..10 = itself only; a ROWS
      // frame of 6 preceding would have swallowed days 0-2 (roll_n 7, 10.5)
      assert(got(("click", 10L)) == ((1L, 1L, 1.5)))
      assert(got(("view", 0L)) == ((1L, 1L, 2.0)))
      assert(got.size == 5)
    }
  }

  test("cx_sessions: gap exactly 30min stays in-session, over 30min splits") {
    val MIN = 60 * SEC
    withEvents(Seq(
      // user 1: events at 0, +30min (exactly the threshold -> SAME
      // session; the rule is strict '>'), then +30min+1us -> NEW session
      (1L, 0L, 1L, "click", 0d),
      (2L, 30 * MIN, 1L, "view", 0d),
      (3L, 60 * MIN + 1L, 1L, "view", 0d),
      // user 2: single event
      (4L, 5 * SEC, 2L, "click", 0d))) { dir =>
      val got = SparkEntry.queries("cx_sessions")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got == Map(
        (1L, 1L) -> ((2L, 0L, 30 * MIN, 30 * MIN)),
        (1L, 2L) -> ((1L, 60 * MIN + 1L, 60 * MIN + 1L, 0L)),
        (2L, 1L) -> ((1L, 5 * SEC, 5 * SEC, 0L))))
    }
  }

  test("cx_analytics: lag/lead/first/percent_rank/cume_dist, ts tie broken by event_id") {
    withEvents(Seq(
      // user 1: two events share ts=10s — order falls back to event_id
      (1L, 10 * SEC, 1L, "a", 0d),
      (2L, 10 * SEC, 1L, "b", 0d),
      (3L, 20 * SEC, 1L, "c", 0d),
      // user 2: singleton partition — percent_rank 0, cume_dist 1
      (4L, 5 * SEC, 2L, "z", 0d))) { dir =>
      val got = SparkEntry.queries("cx_analytics")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((Option(r.getString(2)), Option(r.getString(3)),
          r.getString(4), r.getDouble(5), r.getDouble(6)))).toMap
      assert(got(1L) == ((None, Some("b"), "a", 0.0, 0.333333)))
      assert(got(2L) == ((Some("a"), Some("c"), "a", 0.5, 0.666667)))
      assert(got(3L) == ((Some("b"), None, "a", 1.0, 1.0)))
      assert(got(4L) == ((None, None, "z", 0.0, 1.0)))
    }
  }
}
