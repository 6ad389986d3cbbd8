package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.pm.{BatchDiscovery, EnabledTime, WaitingTimes}

/** Unit fixtures for the K1/K2/K3 kernels — esp. the classification branches
  * the synthetic harness data never exercises (Parallel/Sequential) and the
  * W4 split / W7 min-size edges. */
class PmKernelSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def log(rows: (Long, Long, String, String, Long, Long, Long)*): DataFrame =
    rows.toDF("event_id", "case_id", "activity", "resource", "start_us", "end_us", "enabled_us")

  private def discovered(rows: (Long, Long, String, String, Long, Long, Long)*): Map[Long, (Any, Any)] =
    BatchDiscovery.discover(log(rows: _*))
      .select("event_id", "batch_id", "batch_type").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap

  test("K1 classifies simultaneous batches as Parallel") {
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 2L, "A", "r0", 100L, 200L, 50L),
      (3L, 3L, "A", "r0", 100L, 200L, 50L))
    assert(d.values.map(_._2).toSet == Set("Parallel"))
    assert(d.values.map(_._1).toSet.size == 1)
  }

  test("K1 classifies back-to-back batches as Sequential task-based") {
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 2L, "A", "r0", 200L, 300L, 50L),
      (3L, 3L, "A", "r0", 300L, 400L, 50L))
    assert(d.values.map(_._2).toSet == Set("Sequential task-based"))
  }

  test("K1 classifies overlapping batches as Concurrent task-based") {
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 250L, 50L),
      (2L, 2L, "A", "r0", 200L, 350L, 50L))
    assert(d.values.map(_._2).toSet == Set("Concurrent task-based"))
  }

  test("K1 splits on temporal gaps and drops single-case groups (W7)") {
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 2L, "A", "r0", 300L, 400L, 50L)) // gap: 300 > max end 200
    assert(d.values.forall(_._1 == null))
  }

  test("K1 does not batch across resources or activities") {
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 2L, "A", "r1", 100L, 200L, 50L),
      (3L, 3L, "B", "r0", 100L, 200L, 50L))
    assert(d.values.forall(_._1 == null))
  }

  test("W7 requires >= 2 distinct cases, not 2 events") {
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 1L, "A", "r0", 200L, 300L, 50L)) // same case twice
    assert(d.values.forall(_._1 == null))
  }

  test("W4 splits off late-enabled cases; undersized splinters dropped") {
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 2L, "A", "r0", 120L, 220L, 60L),
      (3L, 3L, "A", "r0", 130L, 230L, 110L)) // enabled 110 > min start 100
    assert(d(1L)._1 != null && d(2L)._1 != null)
    assert(d(1L)._1 == d(2L)._1)
    assert(d(3L)._1 == null) // split off alone -> below min size
  }

  test("W4 keeps a splinter that still has >= 2 cases") {
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 2L, "A", "r0", 120L, 220L, 60L),
      (3L, 3L, "A", "r0", 130L, 230L, 110L),
      (4L, 4L, "A", "r0", 140L, 240L, 115L)) // 3,4 both late -> their own batch
    assert(d(1L)._1 == d(2L)._1 && d(3L)._1 == d(4L)._1)
    assert(d(1L)._1 != d(3L)._1)
  }

  test("K1 equal-end non-simultaneous pair does not batch (golden-derived rule)") {
    // {14:07-18:27, 17:47-18:27}-style pairs are unbatched in the Production
    // golden: overlap with equal ends is not a concurrent link
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 300L, 50L),
      (2L, 2L, "A", "r0", 250L, 300L, 50L))
    assert(d.values.forall(_._1 == null))
  }

  test("K1 chains are type-homogeneous: a different link type starts a new batch") {
    // seq pair, then an overlapping (conc) link: the conc link breaks the
    // chain instead of extending it (golden-derived rule)
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 2L, "A", "r0", 200L, 300L, 50L),  // S link -> chain type S
      (3L, 3L, "A", "r0", 250L, 400L, 50L),  // C link -> breaks; starts fresh
      (4L, 4L, "A", "r0", 300L, 500L, 60L))  // C link -> joins row 3
    assert(d(1L)._1 != null && d(1L)._1 == d(2L)._1)
    assert(d(1L)._2 == "Sequential task-based")
    assert(d(3L)._1 != null && d(3L)._1 == d(4L)._1)
    assert(d(3L)._2 == "Concurrent task-based")
    assert(d(1L)._1 != d(3L)._1)
  }

  test("K1 containment (end before previous end) still links concurrently") {
    // golden instance 301 shape: a long event with a fully-contained one
    val d = discovered(
      (1L, 1L, "A", "r0", 100L, 600L, 50L),
      (2L, 2L, "A", "r0", 150L, 200L, 50L))
    assert(d.values.map(_._2).toSet == Set("Concurrent task-based"))
    assert(d.values.map(_._1).toSet.size == 1)
  }

  private def discoveredFull(rows: (Long, Long, String, String, Long, Long, Long)*): Map[Long, (Any, Any)] =
    BatchDiscovery.discoverFull(log(rows: _*))
      .select("event_id", "batch_id", "batch_type").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap

  test("subprocess: sequential case-based batch detected over A->B units") {
    // three cases, each executing A then B back-to-back by r0, blocks
    // processed one after another (units chain with S links)
    val d = discoveredFull(
      (1L, 1L, "A", "r0", 0L, 10L, 0L), (2L, 1L, "B", "r0", 10L, 20L, 0L),
      (3L, 2L, "A", "r0", 20L, 30L, 0L), (4L, 2L, "B", "r0", 30L, 40L, 0L),
      (5L, 3L, "A", "r0", 40L, 50L, 0L), (6L, 3L, "B", "r0", 50L, 60L, 0L))
    assert(d.values.map(_._2).toSet == Set("Sequential case-based"))
    assert(d.values.map(_._1).toSet.size == 1)
  }

  test("subprocess: task-based (simultaneous units) falls back to task-level type") {
    // two cases executing A->B with IDENTICAL timings: the subprocess units
    // are simultaneous -> "task-based" label -> events keep task-level types
    // (here Parallel), but carry the subprocess batch id (one batch)
    val d = discoveredFull(
      (1L, 1L, "A", "r0", 0L, 10L, 0L), (2L, 1L, "B", "r0", 10L, 20L, 0L),
      (3L, 2L, "A", "r0", 0L, 10L, 0L), (4L, 2L, "B", "r0", 10L, 20L, 0L))
    assert(d.values.map(_._2).toSet == Set("Parallel"))
    assert(d.values.map(_._1).toSet.size == 1)
  }

  test("subprocess W6: mixed task-level types invalidate the subprocess batch") {
    // A-events pair simultaneously (Parallel) but B-events only overlap
    // (Concurrent): the subprocess candidate mixes task types -> W6 clears
    // it and the events fall back to TWO task-level batches
    val d = discoveredFull(
      (1L, 1L, "A", "r0", 0L, 10L, 0L), (2L, 1L, "B", "r0", 10L, 20L, 0L),
      (3L, 2L, "A", "r0", 0L, 10L, 0L), (4L, 2L, "B", "r0", 12L, 22L, 0L))
    assert(d(1L)._2 == "Parallel" && d(3L)._2 == "Parallel")
    assert(d(2L)._2 == "Concurrent task-based" && d(4L)._2 == "Concurrent task-based")
    assert(d(1L)._1 == d(3L)._1 && d(2L)._1 == d(4L)._1 && d(1L)._1 != d(2L)._1)
  }

  test("subprocess nullification: undersized subprocess batch clears task info too") {
    // the two cases' units [0,20] and [10,30] chain concurrently (uniform
    // Sequential task-level types keep W6 quiet), but case 2's unit is
    // enabled AFTER the instance start -> W4 splits the subprocess batch
    // into singletons -> below min size -> the events lose their
    // task-level batches as well (discovery.py:128-147), even though the
    // A and B event pairs would each have formed a Sequential task batch
    val d = discoveredFull(
      (1L, 1L, "A", "r0", 0L, 10L, 0L), (2L, 1L, "B", "r0", 10L, 20L, 0L),
      (3L, 2L, "A", "r0", 10L, 20L, 5L), (4L, 2L, "B", "r0", 20L, 30L, 20L))
    assert(d.values.forall(_._1 == null), s"expected full nullification, got $d")
  }

  test("report: multi-activity group counts W2 sequence occurrences (general n)") {
    val d = BatchDiscovery.discoverFull(log(
      (1L, 1L, "A", "r0", 0L, 10L, 0L), (2L, 1L, "B", "r0", 10L, 20L, 0L),
      (3L, 2L, "A", "r0", 20L, 30L, 0L), (4L, 2L, "B", "r0", 30L, 40L, 0L),
      (5L, 3L, "A", "r0", 40L, 50L, 0L), (6L, 3L, "B", "r0", 50L, 60L, 0L),
      // case 4 executes the same A->B sequence far away (not batched) —
      // it must still count toward "Num occurrences"
      (7L, 4L, "A", "r0", 1000L, 1010L, 900L), (8L, 4L, "B", "r0", 1010L, 1020L, 900L)))
    val txt = graft.pm.Reporting.render(d)
    assert(txt.contains("Batch formed by activities: ('A', 'B')"), txt)
    assert(txt.contains("Num occurrences: 4"), txt)
    assert(txt.contains("Num occurrences in batch: 3"), txt)
  }

  test("K2 enabled time: max non-concurrent predecessor end, case-start fallback") {
    val l = log(
      (1L, 1L, "A", "r0", 0L, 100L, 0L),
      (2L, 1L, "B", "r0", 50L, 150L, 0L),
      (3L, 1L, "C", "r0", 200L, 300L, 0L)).drop("enabled_us")
    val en = EnabledTime.withEnabled(l).select("event_id", "enabled_us")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(en(1L) == 0L)   // no predecessor -> case start
    assert(en(2L) == 0L)   // A still running at 50 -> fallback
    assert(en(3L) == 150L) // max(100, 150)
  }

  test("K2 concurrency pairs suppress parallel predecessors") {
    // A and B appear in both orders across cases -> concurrent
    val l = log(
      (1L, 1L, "A", "r0", 0L, 100L, 0L),
      (2L, 1L, "B", "r0", 150L, 250L, 0L),
      (3L, 2L, "B", "r0", 0L, 100L, 0L),
      (4L, 2L, "A", "r0", 150L, 250L, 0L)).drop("enabled_us")
    val pairs = EnabledTime.concurrencyPairs(l).as[(String, String)].collect().toSet
    assert(pairs == Set(("A", "B"), ("B", "A")))
    val en = EnabledTime.withEnabled(l).select("event_id", "enabled_us")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(en(2L) == 0L) // A||B: A's end is not an enabler -> case start
  }

  test("K2 l2-loop gate vetoes rework loops but keeps true concurrency") {
    // A/B: observed in both orders across cases, zero a,b,a trigrams ->
    // genuine concurrency, survives the gate. C/D: an 11-event alternating
    // rework loop in one case -> df(C,D)=df(D,C)=5 fakes bidirectional
    // evidence, but l2(C,D)+l2(D,C) = 5+4 = 9 trips 9/10 >= 0.9 -> vetoed.
    val ab = Seq(
      (1L, 1L, "A", "r0", 0L, 100L, 0L),
      (2L, 1L, "B", "r0", 150L, 250L, 0L),
      (3L, 2L, "B", "r0", 0L, 100L, 0L),
      (4L, 2L, "A", "r0", 150L, 250L, 0L))
    val cd = (0 until 11).map { i =>
      (10L + i, 3L, if (i % 2 == 0) "C" else "D", "r0",
        i * 100L, i * 100L + 50L, 0L)
    }
    val l = log((ab ++ cd): _*).drop("enabled_us")
    val ungated = EnabledTime.concurrencyPairs(l).as[(String, String)].collect().toSet
    assert(ungated == Set(("A", "B"), ("B", "A"), ("C", "D"), ("D", "C")))
    val gated = EnabledTime.concurrencyPairs(l, l2lThreshold = Some(0.9))
      .as[(String, String)].collect().toSet
    assert(gated == Set(("A", "B"), ("B", "A")))
  }

  test("K2 l2-loop gate is symmetric under one-directional trigram evidence") {
    // Nine cases each reading E,F,E: l2(E,F) = 9, l2(F,E) = 0 — trigram
    // evidence exists in ONE direction only, yet df sees E->F and F->E nine
    // times each, so (E,F) AND (F,E) both enter the base relation. The gate
    // must veto BOTH orders (ll = 9 -> 9/10 >= 0.9), like the driver-side
    // concurrencySet always did — the asymmetric DataFrame form kept (F,E)
    // (round-6 advisor finding).
    val ef = (0 until 9).flatMap { c =>
      Seq(
        (100L + 3 * c, 10L + c, "E", "r0", 0L, 50L, 0L),
        (101L + 3 * c, 10L + c, "F", "r0", 100L, 150L, 0L),
        (102L + 3 * c, 10L + c, "E", "r0", 200L, 250L, 0L))
    }
    val l = log(ef: _*).drop("enabled_us")
    val ungated = EnabledTime.concurrencyPairs(l).as[(String, String)].collect().toSet
    assert(ungated == Set(("E", "F"), ("F", "E")))
    val gated = EnabledTime.concurrencyPairs(l, l2lThreshold = Some(0.9))
      .as[(String, String)].collect().toSet
    assert(gated == Set.empty, s"one-directional l2l evidence must veto both orders, got $gated")
    // annotated (graded pm_pairs_l2l) surface: both orders carry the same
    // symmetric count and verdict
    val ann = EnabledTime.concurrencyPairsL2lAnnotated(l)
      .as[(String, String, Long, Long)].collect().toSet
    assert(ann == Set(("E", "F", 9L, 1L), ("F", "E", 9L, 1L)))
  }

  test("K2 kernel run_no equals the withRuns window on a mixed log") {
    // crafted to exercise all three new-run triggers: first event, resource
    // change, and a time gap — plus a seamless same-resource continuation
    val log = Seq(
      (1L, 1L, "A", "r1", 0L, 10L),
      (2L, 1L, "B", "r1", 10L, 20L),  // contiguous same-resource: same run
      (3L, 1L, "C", "r2", 20L, 30L),  // resource change: new run
      (4L, 1L, "D", "r2", 40L, 50L),  // gap > 0: new run
      (5L, 2L, "A", "r1", 5L, 6L))    // other case restarts at run 1
      .toDF("event_id", "case_id", "activity", "resource", "start_us", "end_us")
    val en = EnabledTime.withEnabled(log)
    val kernel = en.select($"event_id", $"run_no").as[(Long, Long)].collect().toMap
    val window = graft.pm.SubprocessBatches.withRuns(en.drop("run_no"))
      .select($"event_id", $"run_no").as[(Long, Long)].collect().toMap
    assert(kernel == window)
    assert(kernel == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 1L))
  }

  test("K3 sweep line matches hand computation") {
    val d = Seq(
      (1L, 1L, java.lang.Long.valueOf(1L), 0L, 10L, 20L),
      (2L, 1L, java.lang.Long.valueOf(1L), 5L, 25L, 35L))
      .toDF("event_id", "case_id", "batch_id", "enabled_us", "start_us", "end_us")
    val r = WaitingTimes.sweepLine(d).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("pt_us") == 20L) // [10,20) + [25,35)
    assert(r(0).getAs[Long]("wt_us") == 15L) // [0,10) + [20,25)
  }

  test("WT decomposition invariant: total = creation + ready + other") {
    val d = BatchDiscovery.discover(log(
      (1L, 1L, "A", "r0", 100L, 200L, 40L),
      (2L, 2L, "A", "r0", 120L, 220L, 60L),
      (3L, 3L, "A", "r0", 130L, 230L, 80L)))
    val wt = WaitingTimes.batchCaseWT(d).collect()
    assert(wt.length == 3)
    wt.foreach { r =>
      assert(r.getAs[Long]("total_wt_us") ==
        r.getAs[Long]("creation_wt_us") + r.getAs[Long]("ready_wt_us") + r.getAs[Long]("other_wt_us"))
      assert(r.getAs[Long]("ready_wt_us") >= 0L)
      assert(r.getAs[Long]("creation_wt_us") >= 0L)
      assert(r.getAs[Long]("other_wt_us") >= 0L)
    }
    // instance enabled = max case enabled = 80; instance start = min start = 100
    assert(wt.map(_.getAs[Long]("ready_wt_us")).toSet == Set(20L))
  }

  test("seq_tolerated_gap knob: a gap within tolerance links S, beyond stays split") {
    // same fixture as the W7 gap test (gap of 100us between end 200 and
    // start 300): reference batch_detection.R:36 drives one scalar
    // seq_tolerated_gap for every activity (the R package's
    // seq_tolerated_gap_list_generator fans the scalar out per activity)
    val rows = Seq(
      (1L, 1L, "A", "r0", 100L, 200L, 50L),
      (2L, 2L, "A", "r0", 300L, 400L, 50L))
    val linked = BatchDiscovery.discover(log(rows: _*), seqGapUs = 100L)
      .select("event_id", "batch_id", "batch_type").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(linked.values.map(_._2).toSet == Set("Sequential task-based"))
    assert(linked.values.map(_._1).toSet.size == 1)
    val split = BatchDiscovery.discover(log(rows: _*), seqGapUs = 99L)
    assert(split.select("batch_id").collect().forall(_.get(0) == null))
  }

  test("business-clock WT decomposition: telescoping identity + weekend collapse") {
    import org.apache.spark.sql.functions._
    // Two cases batch on resource r0 (Mon-Fri 08:00-17:00). Case 2 is
    // enabled Friday 16:00 but the batch starts Monday 10:00: wall ready
    // time spans the weekend (66h), business ready time is 3h (Fri 16-17
    // + Mon 8-10). mon0 = 2024-01-01 00:00 UTC (a Monday).
    val mon0 = 1704067200000000L
    val H = 3600000000L
    val fri16 = mon0 + 4 * 24 * H + 16 * H
    val mon10 = mon0 + 7 * 24 * H + 10 * H
    val d = BatchDiscovery.discover(this.log(
      (1L, 1L, "A", "r0", mon10, mon10 + H, fri16),
      (2L, 2L, "A", "r0", mon10, mon10 + H, fri16)))
    val res = d.filter($"batch_id".isNotNull)
      .groupBy($"batch_id").agg(min($"resource").as("resource"))
    def biz(c: org.apache.spark.sql.Column) = pm.Calendar.resourceBizUs($"resource", c)
    val wt = WaitingTimes.batchCaseWT(d).join(res, Seq("batch_id"))
      .select(
        (biz($"case_start_us") - biz($"case_enabled_us")).as("total"),
        (biz($"instance_enabled_us") - biz($"case_enabled_us")).as("creation"),
        (biz($"instance_start_us") - biz($"instance_enabled_us")).as("ready"),
        (biz($"case_start_us") - biz($"instance_start_us")).as("other"))
      .collect()
    assert(wt.length == 2)
    wt.foreach { r =>
      assert(r.getAs[Long]("total") ==
        r.getAs[Long]("creation") + r.getAs[Long]("ready") + r.getAs[Long]("other"))
      // wall total would be 66h; the business clock collapses the weekend
      assert(r.getAs[Long]("total") == 3 * H, s"weekend not collapsed: $r")
    }
  }

  test("run_no: the K2 sweep's imperative rule equals SubprocessBatches.withRuns") {
    // The run-boundary rule (resource change / gap > runGapUs on
    // (start_us, end_us, event_id) order) exists twice: imperatively inside
    // EnabledTime.withEnabled and as a window chain in withRuns. This pins
    // them together on a fixture exercising every boundary kind: first
    // event, resource change, zero gap (abut), positive gap, overlap,
    // same-start tie broken by end_us then event_id, and a 2nd case.
    val fixture = log(
      (1L, 1L, "A", "r0", 100L, 200L, 0L),
      (2L, 1L, "B", "r0", 200L, 300L, 0L),   // abut, same resource -> same run
      (3L, 1L, "C", "r1", 300L, 400L, 0L),   // resource change -> new run
      (4L, 1L, "D", "r1", 450L, 500L, 0L),   // gap 50 -> new run at gap 0
      (5L, 1L, "E", "r1", 480L, 520L, 0L),   // overlap -> same run
      (6L, 1L, "F", "r1", 480L, 510L, 0L),   // same start, earlier end -> orders BEFORE 5
      (7L, 2L, "A", "r0", 100L, 150L, 0L),
      (8L, 2L, "A", "r0", 160L, 170L, 0L))   // gap 10
    for (gap <- Seq(0L, 10L, 50L)) {
      val sweep = pm.EnabledTime.withEnabled(fixture, runGapUs = gap)
        .select("event_id", "run_no").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val win = pm.SubprocessBatches.withRuns(
          pm.EnabledTime.withEnabled(fixture).drop("run_no"), seqGapUs = gap)
        .select("event_id", "run_no").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sweep == win, s"gap=$gap")
    }
  }

  test("one-resource-per-batch invariant (pm_wt_biz's clock attribution) on real datasets") {
    // pm_wt_biz measures each batch on "the batch's resource" clock,
    // attributed via min(resource) per batch — well-defined only because
    // K1 segments per resource (W5), so a batch can never span resources.
    // This makes that invariant EXECUTABLE: if a future W5 edit lets a
    // batch mix resources, this fails before min() silently picks one.
    import org.apache.spark.sql.functions._
    for (dir <- Seq(s"${Fixtures.testdata}/sf0.001", s"${Fixtures.testdata}/sf0.01")) {
      val d = BatchDiscovery.discover(EnabledTime.withEnabled(
        pm.EventLogOps.fromEvents(spark, dir)).transform(Pinned.track))
      val bad = d.filter($"batch_id".isNotNull)
        .groupBy($"batch_id").agg(countDistinct($"resource").as("nres"))
        .filter($"nres" =!= 1L).count()
      assert(bad == 0L,
        s"$dir: $bad batches span >1 resource — pm_wt_biz's per-batch business clock is ill-defined")
      Pinned.release(spark)
    }
  }
}
