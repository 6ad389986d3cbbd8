package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pm.{BatchDiscovery, EnabledTime, WaitingTimes}

/** The key-sorted passes of the paper path against their definitions, over
  * random small logs:
  *
  *   - the waiting-time pass ([[WaitingTimes.batchCaseWT]] and its event
  *     grain [[WaitingTimes.eventWT]]) against a driver-side decomposition
  *     of the discovered events: per batch case the (start, enabled)
  *     struct-min and the max end, per batch the last case enabled time and
  *     the first case start;
  *   - the one-pass directly-follows and trigram counts against the
  *     window + groupBy counts, and the driver-side concurrency set against
  *     the DataFrame relation;
  *   - the task link `tk` that [[BatchDiscovery.segment]] carries against
  *     the window over each segment's non-boundary links.
  *
  * Each test asserts that its samples reach the edges it is about. Seeded:
  * a failure reproduces by its printed sample index.
  */
class PmPassPropertySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  type LogRow = (Long, Long, String, String, Long, Long, Long)

  private def toDf(rows: Seq[LogRow]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "case_id", "activity", "resource", "start_us", "end_us", "enabled_us")
  }

  /** Same-resource runs of A, B (and sometimes C) per case that chain into
    * case-based batches, a later D event that batches at task level, and a
    * quarter of the events enabled only at their start (the W4 split). */
  private def randomRunLog(rnd: scala.util.Random): Seq[LogRow] = {
    var id = 0L
    def ev(c: Long, act: String, res: String, start: Long, dur: Long) = {
      id += 1
      (id, c, act, res, start, start + dur, if (rnd.nextInt(4) == 0) start else 0L)
    }
    (1L to 3L + rnd.nextInt(5)).flatMap { c =>
      val res = s"r${rnd.nextInt(2)}"
      val t = Seq(0L, 0L, 25L, 150L, 300L)(rnd.nextInt(5))
      val dB = if (rnd.nextInt(4) == 0) 75L else 100L
      Seq(ev(c, "A", res, t, 50L), ev(c, "B", res, t + 50L, dB)) ++
        (if (rnd.nextInt(3) == 0) Seq(ev(c, "C", res, t + 50L + dB, 50L)) else Nil) ++
        (if (rnd.nextBoolean()) Seq(ev(c, "D", res, 600L + rnd.nextInt(3) * 25L, 50L + rnd.nextInt(2) * 50L))
         else Nil)
    }
  }

  /** On r0, case 1 runs A, B twice and case 2 once between them: the three
    * units chain into one sequential case-based batch in which case 1 has
    * two units. On r1, one concurrent X segment of cases 3-6 whose last two
    * cases are enabled after the first start: W4 splits it into two
    * batches of two cases each. */
  private val crafted: Seq[LogRow] = Seq(
    (1L, 1L, "A", "r0", 0L, 50L, 0L), (2L, 1L, "B", "r0", 50L, 100L, 0L),
    (3L, 2L, "A", "r0", 100L, 150L, 0L), (4L, 2L, "B", "r0", 150L, 200L, 0L),
    (5L, 1L, "A", "r0", 200L, 250L, 0L), (6L, 1L, "B", "r0", 250L, 300L, 0L),
    (7L, 3L, "X", "r1", 0L, 100L, 0L), (8L, 4L, "X", "r1", 10L, 110L, 0L),
    (9L, 5L, "X", "r1", 20L, 120L, 15L), (10L, 6L, "X", "r1", 30L, 130L, 15L))

  test("the waiting-time pass matches a driver-side decomposition on discovered logs") {
    val rnd = new scala.util.Random(20261019L)
    val durations = Seq("batch_pt_us", "batch_wt_us", "batch_total_wt_us",
      "batch_creation_wt_us", "batch_ready_wt_us", "batch_other_wt_us")
    val cps = Seq("batch_case_enabled_us", "batch_instance_enabled_us", "batch_start_us")
    var unbatched, split, twoUnitCases = 0
    for (sample <- 0 to 12) {
      val log = if (sample == 0) crafted else randomRunLog(rnd)
      def clue(msg: String) = s"[sample $sample] $msg (log: $log)"
      val d = BatchDiscovery.discoverFull(toDf(log))
      val ev = d.collect()
      def long(r: Row, c: String) = r.getLong(r.fieldIndex(c))
      def str(r: Row, c: String) = r.getString(r.fieldIndex(c))
      def bid(r: Row) = Option(r.get(r.fieldIndex("batch_id"))).map(_.asInstanceOf[Long])
      def btype(r: Row) = str(r, "batch_type")

      // the decomposition from the definitions
      val batched = ev.filter(bid(_).isDefined)
      val cases = batched.groupBy(r => (bid(r).get, btype(r), long(r, "case_id"))).map { case (k, rs) =>
        k -> (rs.map(r => (long(r, "start_us"), long(r, "enabled_us"))).min, rs.map(long(_, "end_us")).max)
      }
      val inst = cases.groupBy(_._1._1).map { case (b, cs) =>
        b -> (cs.values.map(_._1._2).max, cs.values.map(_._1._1).min)
      }
      // total, creation, ready, other, pt, wt, instance enabled / start, case enabled / start / end
      val want = cases.map { case (k, ((s, en), e)) =>
        val (ie, is) = inst(k._1)
        k -> Seq(s - en, ie - en, is - ie, s - is, e - s, s - en, ie, is, en, s, e)
      }

      val wt = WaitingTimes.batchCaseWT(d)
      assert(wt.columns.toSeq == Seq("batch_id", "batch_type", "case_id", "total_wt_us", "creation_wt_us",
        "ready_wt_us", "other_wt_us", "pt_us", "wt_us", "instance_enabled_us", "instance_start_us",
        "case_enabled_us", "case_start_us", "case_end_us"), clue("batchCaseWT columns"))
      val got = wt.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)) -> (3 to 13).map(r.getLong))
      assert(got.length == want.size, clue(s"${got.length} batch-case rows, want ${want.size}"))
      assert(got.toMap == want, clue(s"got ${got.toMap}, want $want"))
      got.foreach { case (k, v) => assert(v(0) == v(1) + v(2) + v(3), clue(s"total != creation + ready + other at $k")) }

      // event grain: every event once, its own columns untouched, its batch
      // case's values written back, zeros / nulls outside batches
      val egr = WaitingTimes.eventWT(d, checkpoints = true)
      assert(egr.columns.toSeq == d.columns.toSeq ++ durations ++ cps, clue("eventWT columns"))
      assert(WaitingTimes.eventWT(d).columns.toSeq == d.columns.toSeq ++ durations, clue("eventWT columns"))
      val byId = ev.map(r => long(r, "event_id") -> r).toMap
      val rows = egr.collect()
      assert(rows.map(long(_, "event_id")).sorted.toSeq == byId.keys.toSeq.sorted, clue("events not preserved"))
      rows.foreach { r =>
        val src = byId(long(r, "event_id"))
        assert(r.toSeq.take(src.length) == src.toSeq, clue(s"event columns changed: $r"))
        val vals = (durations ++ cps).map(c => Option(r.get(r.fieldIndex(c))))
        bid(src) match {
          case None =>
            assert(vals == Seq.fill(6)(Some(0L)) ++ Seq.fill(3)(None), clue(s"unbatched row $r"))
          case Some(b) =>
            val w = want((b, btype(src), long(src, "case_id")))
            assert(vals.flatten == Seq(w(4), w(5), w(0), w(1), w(2), w(3), w(8), w(6), w(7)),
              clue(s"event $r does not carry its batch case's values ${want((b, btype(src), long(src, "case_id")))}"))
        }
        assert(long(r, "batch_total_wt_us") == long(r, "batch_creation_wt_us") + long(r, "batch_ready_wt_us") +
          long(r, "batch_other_wt_us"), clue(s"total != creation + ready + other: $r"))
      }

      unbatched += ev.count(bid(_).isEmpty)
      // W4: one segment's events in two task batches (one activity each)
      val taskIds = batched.groupBy(bid(_).get).filter(_._2.map(str(_, "activity")).distinct.length == 1).keySet
      split += batched.filter(r => taskIds(bid(r).get))
        .groupBy(r => (str(r, "resource"), str(r, "activity"), long(r, "seg_no")))
        .count(_._2.map(bid(_).get).distinct.length > 1)
      twoUnitCases += batched.filter(r => btype(r).endsWith("case-based"))
        .groupBy(r => (bid(r).get, long(r, "case_id"))).count(_._2.map(long(_, "run_no")).distinct.length > 1)
      Pinned.releaseFrame(d)
      Pinned.release(spark)
    }
    assert(unbatched > 0 && split > 0 && twoUnitCases > 0,
      s"samples miss an edge: unbatched=$unbatched, W4-split segments=$split, two-unit cases=$twoUnitCases")
  }

  /** Many cases (so the counting pass spreads them over partitions), starts
    * on a coarse grid (same-start ties, broken by event_id, which runs
    * against the start order), zero-duration events and an occasional null
    * activity. */
  private def pairLog(rnd: scala.util.Random): Seq[(Long, Long, String, String, Long, Long)] = {
    val ids = rnd.shuffle((1L to 400L).toList).iterator
    (1L to 10L + rnd.nextInt(30)).flatMap { c =>
      (1 to 2 + rnd.nextInt(7)).map { _ =>
        val start = rnd.nextInt(6) * 10L
        val act = if (rnd.nextInt(25) == 0) null else Seq("A", "B", "C")(rnd.nextInt(3))
        (ids.next(), c, act, "r0", start, start + Seq(0L, 0L, 5L, 20L)(rnd.nextInt(4)))
      }
    }
  }

  test("one-pass directly-follows and trigram counts equal the window + groupBy counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(19102026L)
    var ties, zero, trigrams, pairs = 0
    for (sample <- 1 to 8) {
      val rows = pairLog(rnd)
      def clue(msg: String) = s"[sample $sample] $msg (log: $rows)"
      val log = rows.toDF("event_id", "case_id", "activity", "resource", "start_us", "end_us")
      val w = Window.partitionBy("case_id").orderBy("start_us", "event_id")
      val seq = log.withColumn("p1", lag($"activity", 1).over(w)).withColumn("p2", lag($"activity", 2).over(w))
      def counts(df: DataFrame) =
        df.collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) -> r.getLong(2)).toMap
      val dfWant = counts(seq.filter($"p1".isNotNull).groupBy($"p1", $"activity").agg(count(lit(1))))
      val l2Want = counts(seq.filter($"p2" === $"activity" && $"p1" =!= $"activity")
        .groupBy($"p2", $"p1").agg(count(lit(1))))
      assert(counts(EnabledTime.dfPairs(log)) == dfWant, clue("directly-follows counts"))
      assert(counts(EnabledTime.l2Pairs(log)) == l2Want, clue("trigram counts"))
      for (dep <- Seq(EnabledTime.DependencyThreshold, 1.0); l2l <- Seq(None, Some(EnabledTime.L2lThreshold))) {
        val want = EnabledTime.concurrencyPairs(log, dep, l2l).collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(EnabledTime.concurrencySet(log, dep, l2l) == want, clue(s"concurrency set at ($dep, $l2l)"))
        pairs += want.size
      }
      ties += rows.groupBy(r => (r._2, r._5)).count(_._2.size > 1)
      zero += rows.count(r => r._5 == r._6)
      trigrams += l2Want.size
    }
    assert(ties > 0 && zero > 0 && trigrams > 0 && pairs > 0,
      s"samples miss an edge: same-start ties=$ties, zero-duration=$zero, trigram keys=$trigrams, pairs=$pairs")
  }

  test("segment's tk equals the window over each segment's non-boundary links") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261020L)
    val seen = scala.collection.mutable.Map.empty[Option[String], Int].withDefaultValue(0)
    for (sample <- 1 to 8) {
      // a coarse grid per (resource, activity): simultaneous, abutting,
      // overlapping, equal-end and gapped neighbours
      val rows = (1L to 20L + rnd.nextInt(30)).map { id =>
        val start = rnd.nextInt(8) * 10L
        (id, id % 7, Seq("A", "B")(rnd.nextInt(2)), s"r${rnd.nextInt(2)}", start,
          start + Seq(10L, 10L, 20L, 5L)(rnd.nextInt(4)), 0L)
      }
      def clue(msg: String) = s"[sample $sample] $msg (log: $rows)"
      val seg = BatchDiscovery.segment(toDf(rows))
      val want = seg.withColumn("want",
          min(when(!$"bnd", $"lnk")).over(Window.partitionBy("resource", "activity", "seg_no")))
        .select($"event_id", $"tk", $"want").collect()
      want.foreach { r =>
        assert(r.getString(1) == r.getString(2), clue(s"event ${r.getLong(0)}: tk ${r.getString(1)}, want ${r.getString(2)}"))
        seen(Option(r.getString(1))) += 1
      }
    }
    assert(Seq(None, Some("P"), Some("S"), Some("C")).forall(seen(_) > 0), s"samples miss a link type: $seen")
  }
}
