package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pm.{BatchDiscovery, EnabledTime, Ep1, Reporting, SubprocessBatches, WaitingTimes}

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
  *     the window over each segment's non-boundary links;
  *   - [[BatchDiscovery.segment]] puts each (resource, activity) in one
  *     partition, full discovery each resource; discovery and EP1 read
  *     those clusterings with local sorts only: the same rows at 1, 4 and 7 shuffle
  *     partitions with AQE on and off, every batch of their output in one
  *     partition, and the local WT pass over that output equal to
  *     [[WaitingTimes.eventWT]];
  *   - the driver-side (eager) W8 numbering against the one-task (lazy) one;
  *   - the enabled-time sweep over its shared case shuffle against a
  *     driver-side evaluation of the enabled-time definition;
  *   - the report's occurrence pass against the window + `count_if` form.
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

  /** Rows of `df` sorted by event_id, every column included. */
  private def byId(df: DataFrame): Seq[Row] = {
    val i = df.schema.fieldIndex("event_id")
    df.collect().toSeq.sortBy(_.getLong(i))
  }

  /** `body` at `partitions` shuffle partitions with AQE on or off. */
  private def withConf[A](aqe: Boolean, partitions: Int)(body: => A): A = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(spark.conf.get)
    keys.zip(Seq(aqe.toString, partitions.toString)).foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.zip(before).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("discovery and EP1 give the same rows with AQE on and off at 1, 4 and 7 shuffle partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261021L)
    var multiActivity = 0
    for (sample <- 0 to 3) {
      val log = if (sample == 0) crafted else randomRunLog(rnd)
      def clue(msg: String) = s"[sample $sample] $msg (log: $log)"
      // EP1 over the log's enabled times, and over times the K2 sweep
      // computes, with a case_str it re-attaches
      val withStr = toDf(log).drop("enabled_us").withColumn("case_str", concat(lit("c"), $"case_id"))
      def outputs(): Seq[Seq[Row]] = {
        val en = Pinned.stage(SubprocessBatches.withRuns(toDf(log)))
        val seg = Pinned.stage(BatchDiscovery.segment(en))
        val full = BatchDiscovery.discoverFullFromStages(en, seg)
        val out = Seq(byId(BatchDiscovery.discoverFromSeg(seg)), byId(full), byId(Ep1.analyze(toDf(log))),
          byId(Ep1.analyze(withStr)))
        Seq(full, seg, en).foreach(Pinned.releaseFrame)
        Pinned.release(spark)
        out
      }
      val want = withConf(aqe = false, 1)(outputs())
      for (aqe <- Seq(false, true); n <- Seq(1, 4, 7) if aqe || n > 1) {
        val got = withConf(aqe, n)(outputs())
        Seq("discoverFromSeg", "discoverFullFromStages", "Ep1.analyze", "Ep1.analyze with K2").zipWithIndex.foreach {
          case (name, i) => assert(got(i) == want(i), clue(s"$name differs at aqe=$aqe, $n partitions"))
        }
      }
      // the same column order over a log with its own enabled times, which
      // skips the K2 sweep
      val withEnStr = toDf(log).withColumn("case_str", concat(lit("c"), $"case_id"))
      Seq(withStr, withEnStr).foreach { in =>
        val ep1 = Ep1.analyze(in).columns.toSeq
        assert(ep1.take(3) == Seq("event_id", "batch_id", "case_id") && ep1.last == "case_str" &&
          ep1.count(_ == "case_str") == 1, clue(s"EP1 columns $ep1"))
      }
      // a case-based batch's units span two activities: a clustering finer
      // than the resource would split them
      val full = want(1)
      multiActivity += full.filter(r => !r.isNullAt(r.fieldIndex("batch_id")))
        .groupBy(r => r.getLong(r.fieldIndex("batch_id")))
        .count(_._2.map(r => r.getString(r.fieldIndex("activity"))).distinct.size > 1)
    }
    assert(multiActivity > 0, "no sample produced a batch over two activities")
  }

  test("segment clusters by (resource, activity), full discovery by resource") {
    // task-only passes read the finer clustering; full discovery and the
    // local WT pass need whole resources, and the resource is then their
    // unit of parallelism
    import spark.implicits._
    val log = (1L to 64L).map(i => (i, i % 16, Seq("A", "B")(i.toInt / 8 % 2), s"r${i % 8}", i * 10, i * 10 + 5, 0L))
    def placed(df: DataFrame, keys: String*): Map[Seq[String], Int] =
      df.select(keys.map(col) :+ spark_partition_id(): _*).distinct().collect()
        .groupBy(r => keys.indices.map(r.getString)).map { case (k, ps) => k -> ps.length }
    for (aqe <- Seq(false, true)) withConf(aqe, 4) {
      val en = Pinned.stage(SubprocessBatches.withRuns(toDf(log)))
      val seg = Pinned.stage(BatchDiscovery.segment(en))
      val full = BatchDiscovery.discoverFullFromStages(en, seg)
      val fromEn = BatchDiscovery.discoverFull(en)
      val bySeg = placed(seg, "resource", "activity")
      assert(bySeg.size == 16 && bySeg.values.forall(_ == 1), s"aqe=$aqe: a (resource, activity) over several partitions")
      for ((name, d) <- Seq("discoverFullFromStages" -> full, "discoverFull" -> fromEn)) {
        val byRes = placed(d, "resource")
        assert(byRes.size == 8 && byRes.values.forall(_ == 1), s"aqe=$aqe: $name puts a resource in several partitions")
      }
      // AQE may coalesce the tiny shuffle into one partition
      if (!aqe) assert(placed(seg, "resource").values.exists(_ > 1), "segment clusters no finer than the resource")
      Seq(fromEn, full, seg, en).foreach(Pinned.releaseFrame)
    }
  }

  test("the local WT pass over discovery's partitions equals eventWT, and needs them") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261022L)
    var batched, scatteredDiffers = 0
    for (sample <- 0 to 6; n <- Seq(1, 7)) {
      val log = if (sample == 0) crafted else randomRunLog(rnd)
      def clue(msg: String) = s"[sample $sample, $n partitions] $msg (log: $log)"
      withConf(aqe = false, n) {
        // EP1's input (discoverFull), pm_wt_log's (staged discoverFromSeg)
        // and pm_sp_batches' (discoverFullFromStages)
        val en = Pinned.stage(SubprocessBatches.withRuns(toDf(log)))
        val seg = Pinned.stage(BatchDiscovery.segment(en))
        val full = BatchDiscovery.discoverFull(toDf(log))
        val task = Pinned.stage(BatchDiscovery.discoverFromSeg(seg))
        val staged = BatchDiscovery.discoverFullFromStages(en, seg)
        for ((name, d) <- Seq("discoverFull" -> full, "discoverFromSeg" -> task, "discoverFullFromStages" -> staged)) {
          // the contract the local pass reads: every batch in one partition
          val split = d.filter($"batch_id".isNotNull).select($"batch_id", spark_partition_id())
            .distinct().collect().groupBy(_.getLong(0)).count(_._2.length > 1)
          assert(split == 0, clue(s"$name leaves $split batches over several partitions"))
          for (cps <- Seq(false, true))
            assert(byId(WaitingTimes.eventWT(d, cps, clustered = true)) == byId(WaitingTimes.eventWT(d, cps)),
              clue(s"local WT pass over $name differs (checkpoints $cps)"))
        }
        // the same rows dealt round-robin break the contract: the local pass
        // then sees parts of batches, so the equality above has teeth
        val scattered = full.repartition(3)
        if (byId(WaitingTimes.eventWT(scattered, true, clustered = true)) != byId(WaitingTimes.eventWT(scattered, true)))
          scatteredDiffers += 1
        batched += full.filter($"batch_id".isNotNull).count().toInt
        Seq(full, task, staged, seg, en).foreach(Pinned.releaseFrame)
      }
      Pinned.release(spark)
    }
    assert(batched > 0, "no sample produced a batch")
    assert(scatteredDiffers > 0, "the local pass over scattered rows never differed from eventWT")
  }

  test("eager and lazy W8 numbering agree on task-only logs, null activities included") {
    // every case runs one activity, so no run is a subsequence unit and full
    // discovery is task-only; U+FFFD sorts before U+1F600 in UTF-8 and
    // after it in UTF-16
    val acts = Seq("A", null, "\uFFFD", "\uD83D\uDE00")
    val rnd = new scala.util.Random(20261023L)
    val seen = scala.collection.mutable.Map.empty[Option[String], Int].withDefaultValue(0)
    var ties = 0
    for (sample <- 1 to 8) {
      var id = 0L
      val log = (1L to 8L + rnd.nextInt(12)).flatMap { c =>
        val act = acts(rnd.nextInt(acts.size))
        val res = s"r${rnd.nextInt(2)}"
        (1 to 1 + rnd.nextInt(2)).map { k =>
          id += 1
          val start = rnd.nextInt(3) * 100L + (k - 1) * 400L
          (id, c, act, res, start, start + Seq(50L, 100L)(rnd.nextInt(2)), 0L)
        }
      }
      def clue(msg: String) = s"[sample $sample] $msg (log: $log)"
      val en = Pinned.stage(SubprocessBatches.withRuns(toDf(log)))
      val seg = Pinned.stage(BatchDiscovery.segment(en))
      val cols = Seq("event_id", "activity", "resource", "start_us", "batch_id", "batch_type")
      val full = BatchDiscovery.discoverFullFromStages(en, seg)
      val eager = byId(full.select(cols.map(col): _*))
      val lazyRows = byId(BatchDiscovery.discoverFromSeg(seg).select(cols.map(col): _*))
      assert(eager == lazyRows, clue("eager and lazy numbering differ"))
      val batches = eager.filter(!_.isNullAt(4)).groupBy(_.getLong(4))
      assert(batches.keySet == (1L to batches.size).toSet, clue(s"ids not dense: ${batches.keySet}"))
      batches.values.foreach(b => seen(Option(b.head.getString(1))) += 1)
      // two batches of one resource that start together: the activity decides
      ties += batches.values.map(b => (b.head.getString(2), b.map(_.getLong(3)).min)).groupBy(identity).count(_._2.size > 1)
      Seq(full, seg, en).foreach(Pinned.releaseFrame)
      Pinned.release(spark)
    }
    assert(acts.forall(a => seen(Option(a)) > 0) && ties > 0,
      s"samples miss an edge: batches per activity $seen, start ties $ties")
  }

  test("withEnabled over its shared case shuffle equals the enabled-time definition") {
    val rnd = new scala.util.Random(20261024L)
    var ties, zero, enabledByPred = 0
    for (sample <- 1 to 6; (dep, l2l) <- Seq((EnabledTime.DependencyThreshold, None),
         (1.0, Some(EnabledTime.L2lThreshold)))) {
      val rows = pairLog(rnd).map(r => r.copy(_4 = s"r${rnd.nextInt(2)}"))
      def clue(msg: String) = s"[sample $sample, ($dep, $l2l)] $msg (log: $rows)"
      import spark.implicits._
      // an input enabled_us is dropped; any other column rides the shuffle
      val log = rows.toDF("event_id", "case_id", "activity", "resource", "start_us", "end_us")
        .withColumn("case_str", concat(lit("c"), $"case_id")).withColumn("enabled_us", lit(-1L))
      val conc = EnabledTime.concurrencyPairs(log, dep, l2l).collect().map(r => (r.getString(0), r.getString(1))).toSet
      // enabled(e) = max end of another event p of the case with
      // end(p) <= start(e) and activity(p) not concurrent to activity(e),
      // else the case's first start; run_no counts same-resource runs of the
      // (start, end, event_id) order with no gap
      val want = rows.groupBy(_._2).values.flatMap { evs =>
        val caseStart = evs.map(_._5).min
        val ordered = evs.sortBy(e => (e._5, e._6, e._1))
        val runs = ordered.zipWithIndex.scanLeft(0L) { case (n, (e, i)) =>
          if (i == 0 || ordered(i - 1)._4 != e._4 || e._5 > ordered(i - 1)._6) n + 1 else n
        }.tail
        ordered.zip(runs).map { case (e, run) =>
          val preds = evs.filter(p => p._1 != e._1 && p._6 <= e._5 && !conc((p._3, e._3))).map(_._6)
          if (preds.nonEmpty) enabledByPred += 1
          e._1 -> (if (preds.isEmpty) caseStart else preds.max, run)
        }
      }.toMap
      val out = EnabledTime.withEnabled(log, dep, l2l)
      assert(out.columns.toSeq == Seq("event_id", "case_id", "activity", "resource", "start_us", "end_us",
        "case_str", "enabled_us", "run_no"), clue(s"columns ${out.columns.toSeq}"))
      assert(out.filter($"case_str" =!= concat(lit("c"), $"case_id")).isEmpty, clue("case_str left its event"))
      val got = out.select($"event_id", $"enabled_us", $"run_no").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, clue(s"got $got, want $want"))
      ties += rows.groupBy(r => (r._2, r._5)).count(_._2.size > 1)
      zero += rows.count(r => r._5 == r._6)
    }
    assert(ties > 0 && zero > 0 && enabledByPred > 0,
      s"samples miss an edge: same-start ties=$ties, zero-duration=$zero, enabled by a predecessor=$enabledByPred")
  }

  test("the report's occurrence pass equals the window + count_if form") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261025L)
    var counted, nullWindows = 0
    for (sample <- 1 to 6) {
      val rows = pairLog(rnd)
      def clue(msg: String) = s"[sample $sample] $msg (log: $rows)"
      val disc = rows.toDF("event_id", "case_id", "activity", "resource", "start_us", "end_us")
      // sequences of one to three activities, a null among them at times
      val seqs = Seq.fill(12)(Seq.fill(1 + rnd.nextInt(3))(
        if (rnd.nextInt(12) == 0) null else Seq("A", "B", "C")(rnd.nextInt(3)))).distinct
      val w = Window.partitionBy("case_id").orderBy("start_us", "end_us", "event_id")
      val withWins = (1 to 3).foldLeft(disc)((df, l) =>
        df.withColumn(s"_win_$l", collect_list($"activity").over(w.rowsBetween(0, l - 1)))
          .withColumn(s"_n_$l", count(lit(1)).over(w.rowsBetween(0, l - 1))))
      val aggs = seqs.map {
        case Seq(a) => count_if($"activity" === a)
        case sq => count_if(col(s"_win_${sq.length}") === array(sq.map(lit): _*))
      }
      val row = withWins.agg(aggs.head, aggs.tail: _*).head()
      val want = seqs.zipWithIndex.map { case (sq, i) => sq -> row.getLong(i) }.toMap
      val got = Reporting.occurrences(disc, seqs)
      assert(seqs.forall(sq => got.getOrElse(sq, 0L) == want(sq)), clue(s"got $got, want $want"))
      counted += want.count(_._2 > 0)
      nullWindows += withWins.filter(size($"_win_3") < $"_n_3").count().toInt
    }
    assert(counted > 0 && nullWindows > 0,
      s"samples miss an edge: sequences found=$counted, windows with a null activity=$nullWindows")
  }
}
