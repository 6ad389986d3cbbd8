package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pm.{BatchDiscovery, EnabledTime, WaitingTimes}
import graft.sources.{EventLogCsv, LogSchema}

/** Golden replay against the reference's own logs (SURVEY §5): run the full
  * EP1 pipeline on Production.csv.gz and check structural anchors. Exact
  * instance counts depend on BAMA-internal semantics (subprocess batches
  * not yet reimplemented), so round-1 asserts invariants + sane magnitude
  * and prints the observed numbers for round-over-round tracking.
  */
class GoldenReplaySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("EP1 on Production.csv.gz: events preserved, batches found, invariants hold") {
    import spark.implicits._
    val log = EventLogCsv.read(spark, "/root/reference/logs/Production.csv.gz")
    assert(log.count() == 4503L) // BASELINE.md dataset scale
    assert(log.select("case_id").distinct().count() == 225L)

    // stage the enabled frame to a leaf: discoverFull references it many
    // times, and Catalyst re-analyzes each reference's full subtree per
    // action — over a leaf the expansion is trivial (same pattern as
    // PmQueries.enabledStage in the production path)
    val en = graft.Pinned.stage(EnabledTime.withEnabled(
      log.select($"event_id", $"case_id", $"activity", $"resource", $"start_us", $"end_us")))
    // enabled time never exceeds start
    assert(en.filter($"enabled_us" > $"start_us").count() == 0L)

    // Round 4: the engine's enabled times match the golden's on EVERY event
    // (the per-pair concurrency constraint set derived from
    // Production_WTs.csv.gz has zero violations) — assert full equality.
    val golden = spark.read.option("header", "true")
      .csv("/root/reference/outputs/Production_WTs.csv.gz")
      .select(col("case_id").as("g_case"), col("Activity").as("g_act"),
        graft.Det.us(to_timestamp(col("start_time"))).as("g_start"),
        graft.Det.us(to_timestamp(col("end_time"))).as("g_end"),
        graft.Det.us(to_timestamp(col("enabled_time"))).as("g_enabled"),
        col("batch_instance_id").as("g_bid"))
    val enMismatch = en
      .join(log.select($"event_id", $"case_str"), Seq("event_id"))
      .join(golden, $"case_str" === $"g_case" && $"activity" === $"g_act" &&
        $"start_us" === $"g_start" && $"end_us" === $"g_end")
      .filter($"enabled_us" =!= $"g_enabled")
    assert(enMismatch.count() == 0L,
      "engine enabled times diverged from the golden Production enabled times")

    val d = graft.Pinned.stage(BatchDiscovery.discoverFull(en))
    val nBatches = d.filter($"batch_id".isNotNull).select("batch_id").distinct().count()
    val batchedEvents = d.filter($"batch_id".isNotNull).count()
    info(s"Production: $nBatches batch instances, $batchedEvents/4503 batched events (golden: 485 / 1244)")
    // Round 5 (same-start ties ordered by end_us, see BatchDiscovery
    // .segment): EVERY golden instance is reproduced exactly — the
    // instance-set diff against Production_WTs is asserted empty below —
    // plus ONE engine-only extra (the Case28/Case87 same-start pair,
    // 2012-02-19 21:25, locally indistinguishable from 352 golden-batched
    // C links; see the C-link Scaladoc in BatchDiscovery.linked).
    // Hence 486 = 485 + 1 instances, 1246 = 1244 + 2 events.
    assert(nBatches == 486L,
      s"batch instance count $nBatches drifted (round-5 pinned: 486 = golden 485 + 1 documented residual)")
    assert(batchedEvents == 1246L,
      s"batched event count $batchedEvents drifted (round-5 pinned: 1246 vs golden 1244)")
    assert(d.count() == 4503L)

    // Instance-level EXACT golden coverage: group both sides' batched
    // events into instance member-sets keyed by (case, activity, start,
    // end) and diff — every golden instance must appear verbatim.
    val engInst = d.filter($"batch_id".isNotNull)
      .join(log.select($"event_id", $"case_str"), Seq("event_id"))
      .groupBy($"batch_id")
      .agg(sort_array(collect_set(concat_ws("",
        $"case_str", $"activity", $"start_us", $"end_us"))).as("members"))
      .select($"members")
    val goldInst = golden
      .filter(col("g_bid").isNotNull)
      .groupBy(col("g_bid"))
      .agg(sort_array(collect_set(concat_ws("",
        $"g_case", $"g_act", $"g_start", $"g_end"))).as("members"))
      .select($"members")
    val missing = goldInst.except(engInst).count()
    assert(missing == 0L,
      s"$missing golden Production batch instances not reproduced verbatim")
    val extra = engInst.except(goldInst).count()
    assert(extra == 1L,
      s"engine-only instance count $extra drifted (pinned: exactly the Case28/Case87 pair)")

    // per-batch invariants
    val sizes = d.filter($"batch_id".isNotNull)
      .groupBy("batch_id").agg(countDistinct($"case_id").as("n"))
    assert(sizes.filter($"n" < 2).count() == 0L)

    val wt = WaitingTimes.batchCaseWT(d)
    assert(wt.filter($"total_wt_us" =!=
      $"creation_wt_us" + $"ready_wt_us" + $"other_wt_us").count() == 0L)
    assert(wt.filter($"ready_wt_us" < 0 || $"creation_wt_us" < 0 || $"other_wt_us" < 0).count() == 0L)
    graft.Pinned.releaseFrame(d); graft.Pinned.release(spark)
  }

  test("the Case28/Case87 residual is not decidable by any local candidate filter") {
    // Round-7 attempt at BAMA's model-based candidate filter
    // (batch_detection.R:72, log_and_model_based=TRUE) — the mechanism that
    // makes the golden 485 instead of the engine's 486. Every candidate
    // LOG-DERIVED rule that would exclude the engine-only pair
    // (Case28+Case87, Turning & Milling, ID4167, both start 2012-02-19
    // 21:25, ends 01:15 / 04:46) is REFUTED by a golden-batched
    // counterexample with the same feature. This test pins each refutation
    // executably so the impossibility argument cannot rot:
    //   1. "equal start + different end never batches" — golden has 22 such
    //      member pairs, 8 of them in TWO-member instances (bids 2, 316,
    //      352, 353, 394, 419, 471, 480) structurally identical to the
    //      residual (same resource class, both enabled before start).
    //   2. "a member with a zero-gap same-activity continuation is merged
    //      away" — 53 golden-BATCHED events have such a continuation and
    //      40 golden-batched events ARE such continuations (Case28's
    //      member continues at 01:15 on ID4529; so do batched ones).
    //   3. "members must complete in file/start order" — golden bids 394
    //      and 471 complete in the opposite order of their file rows.
    //   4. "every member must arrive (previous same-case event end) before
    //      the batch starts" — the residual pair PASSES this filter
    //      (arrivals 20:53 / 21:04 < 21:25), so it cannot exclude it.
    //      (That filter IS consistent with the golden exclusion of
    //      Case87's 02-21 22:53 event from bid 306 — arrival 22:51 after
    //      batch start 21:04 — which the engine's C-link rule also
    //      excludes, via the enabled-time chain.)
    // What remains is BAMA-internal subprocess candidate handling feeding
    // the reference's nullification path (discovery.py:128-147 clears TASK
    // batch info for events of an undersized subprocess instance):
    // Case28's member is the head of a gap-0 cross-resource within-case
    // T&M->T&M run (ID4167 -> ID4529 at 01:15), the shape BAMA's
    // enumerate_subsequences(log, 0) can claim as a case-subsequence unit
    // but the engine's same-resource maximal-run unit definition
    // (deliberately scale-safe, SURVEY W-group) does not. A single-case
    // instance over that run, nullified by the min-size pass, erases the
    // task pair exactly as the golden shows. Reconstructing that requires
    // BAMA's combinatorial enumeration — rejected by design; the residual
    // stays accepted (486 = 485 golden + 1).
    import spark.implicits._
    val golden = spark.read.option("header", "true")
      .csv("/root/reference/outputs/Production_WTs.csv.gz")
      .select(col("case_id"), col("Activity").as("act"),
        graft.Det.us(to_timestamp(col("start_time"))).as("s"),
        graft.Det.us(to_timestamp(col("end_time"))).as("e"),
        col("batch_instance_id").as("bid"))
      .persist()
    val batched = golden.filter($"bid".isNotNull)

    // (1) equal-start different-end pairs inside golden instances exist,
    // including in 2-member instances
    val right = batched.select($"bid".as("bid2"), $"s".as("s2"), $"e".as("e2"))
    val eqStart = batched.join(right,
      $"bid" === $"bid2" && $"s" === $"s2" && $"e" < $"e2")
    assert(eqStart.count() == 22L, "golden equal-start diff-end member pairs (pinned 22)")
    val twoMember = batched.groupBy($"bid").agg(count(lit(1)).as("n")).filter($"n" === 2)
      .select($"bid".as("bid3"))
    val eq2 = eqStart.join(twoMember, $"bid" === $"bid3").count()
    assert(eq2 == 8L, "eight TWO-member golden instances are equal-start diff-end (pinned)")

    // (2) zero-gap same-activity continuations appear on both sides of
    // golden-batched events
    val log = golden.select($"case_id", $"act", $"s", $"e")
    val logR = log.select($"case_id".as("case_id2"), $"act".as("act2"),
      $"s".as("s2"), $"e".as("e2"))
    val contHead = log.join(logR,
      $"case_id" === $"case_id2" && $"act" === $"act2" &&
        $"s2" === $"e" && $"e2" > $"e")
      .select($"case_id", $"act", $"s", $"e")
    val batchedHeads = batched.join(contHead, Seq("case_id", "act", "s", "e"), "left_semi").count()
    assert(batchedHeads == 53L,
      "golden-batched events WITH a zero-gap continuation (pinned 53 — refutes merge rule)")

    // (4) the residual pair passes the arrival-before-batch-start filter
    // (arrival = latest other-event end at or before this start)
    val prevEnd = log.join(logR,
        $"case_id" === $"case_id2" && $"e2" <= $"s" &&
          !($"s2" === $"s" && $"e2" === $"e"))
      .groupBy($"case_id", $"s").agg(max($"e2").as("arrival"))
    // 2012-02-19 21:25:00 UTC in epoch micros
    val batchStartUs = 1329686700000000L
    val pairArrivals = prevEnd
      .filter($"case_id".isin("Case28", "Case87") && $"s" === batchStartUs)
      .select($"arrival").as[Long].collect()
    assert(pairArrivals.length == 2 && pairArrivals.forall(_ < batchStartUs),
      "both residual members arrived before the 21:25 batch start — " +
        "the arrival filter cannot be what excludes them")
    golden.unpersist()
  }

  test("Production report + ActivationRules match golden anchors") {
    import spark.implicits._
    val log = EventLogCsv.read(spark, "/root/reference/logs/Production.csv.gz")
    // stage the enabled frame to a leaf: discoverFull references it many
    // times, and Catalyst re-analyzes each reference's full subtree per
    // action — over a leaf the expansion is trivial (same pattern as
    // PmQueries.enabledStage in the production path)
    val en = graft.Pinned.stage(EnabledTime.withEnabled(
      log.select($"event_id", $"case_id", $"activity", $"resource", $"start_us", $"end_us")))
    val d = graft.Pinned.stage(BatchDiscovery.discoverFull(en))

    // EP2 report: byte-level anchors from outputs/Production_Report.txt.
    // The full render matches the golden on 463/468 lines; the remaining
    // lines are the three documented instance residuals (all in the
    // 'Turning & Milling' block) and three ±1ns float64-mean artifacts.
    val report = graft.pm.Reporting.render(d)
    assert(report.split("Batch formed by activities: ").length - 1 == 12,
      "golden report has 12 activity groups")
    val fiqc = report.split("Batch formed by activities: ")
      .find(_.startsWith("('Final Inspection Q.C.',)")).getOrElse("")
    for (anchor <- Seq(
      "Num occurrences: 550",
      "Num occurrences in batch: 196",
      "Frequency occurrences in batch: 35.64%",
      "Batch size distribution: Counter({2: 77, 3: 10, 4: 3})",
      "Average creation wt: 5 days 04:10:03.061224489 sec", // exact ns floor
      "- Batch type: Parallel\n\t\tNum batch instances: 1",
      "- Batch type: Sequential task-based\n\t\tNum batch instances: 42",
      "- Batch type: Concurrent task-based\n\t\tNum batch instances: 47"))
      assert(fiqc.contains(anchor), s"FIQC block missing golden anchor: $anchor")
    // representative-sequence occurrence counts (utils.py:199-229): a
    // repeated-activity batch case makes even a single-activity group a
    // SEQUENCE count — golden Lapping is 112 windows, not 370 events
    val lap = report.split("Batch formed by activities: ")
      .find(_.startsWith("('Lapping',)")).getOrElse("")
    assert(lap.contains("Num occurrences: 112"), "Lapping sequence count (golden 112)")
    assert(report.contains("('Turning',)\nNum occurrences: 85".replace("\n", "\n\t")) ||
      report.split("Batch formed by activities: ")
        .find(_.startsWith("('Turning',)")).exists(_.contains("Num occurrences: 85")),
      "Turning sequence count (golden 85)")

    // ActivationRules text: the gate notices and observation counts are
    // deterministic feature-pipeline outputs (golden-exact); the fitted
    // rules themselves differ (unseeded wittgenstein vs deterministic
    // sequential covering) and are structure-only.
    val rules = graft.rules.ActivationRulesText.render(
      graft.rules.Features.featuresTable(d))
    for (notice <- Seq(
      "Not extracting rules from batch ('Flat Grinding',) due to low size: 12",
      "Not extracting rules from batch ('Turning',) due to low size: 2",
      "Not extracting rules from batch ('Turning Q.C.',) due to low size: 9",
      "Not extracting rules from batch ('Turning Rework',) due to low size: 3"))
      assert(rules.contains(notice), s"missing golden gate notice: $notice")
    assert("Batch: \\(".r.findAllIn(rules).length == 8, "8 gated rule blocks (golden)")
    assert(rules.contains("Batch: ('Final Inspection Q.C.',):\n\t# Observations: 270"),
      "FIQC observation count (golden 270)")
    graft.Pinned.releaseFrame(d); graft.Pinned.release(spark)
  }

  test("WTs artifact layout matches the golden Production_WTs.csv.gz") {
    import spark.implicits._
    val log = EventLogCsv.read(spark, "/root/reference/logs/Production.csv.gz")
    val view = graft.pm.Ep1.wtLogView(graft.pm.Ep1.analyze(log)).persist()
    val golden = spark.read.option("header", "true")
      .csv("/root/reference/outputs/Production_WTs.csv.gz").persist()
    // exact reference column order (FIXTURES.md §2)
    assert(view.columns.toSeq == golden.columns.toSeq)
    assert(view.count() == 4503L)
    // timestamp and duration renderings are byte-identical on the identity
    // columns (independent of batch-discovery deltas): every (case,
    // activity, start, end, resource) 5-tuple matches the golden file
    val key = Seq("case_id", "Activity", "start_time", "end_time", "Resource")
    assert(view.select(key.map(col): _*).except(golden.select(key.map(col): _*)).count() == 0L)
    // duration strings parse in the golden "D days HH:MM:SS[.ffffff]" shape
    val durRe = "^\\d+ days \\d{2}:\\d{2}:\\d{2}(\\.\\d{6})?$"
    assert(view.filter(!$"batch_pt".rlike(durRe) || !$"batch_ready_wt".rlike(durRe)).count() == 0L)
    view.unpersist(); golden.unpersist()
  }

  test("EP1 on Loan_Application_batched.csv.gz: scale anchors + full discovery") {
    import spark.implicits._
    // cleanActivity: the Loan goldens were produced through the handoff
    // preprocessing, which strips/normalizes activity names
    // (handoff_batch.py:83) — ' Assess loan risk' -> 'Assess loan risk'
    val log = EventLogCsv.read(spark, "/root/reference/logs/Loan_Application_batched.csv.gz",
      LogSchema(enabled = Some("enabled_time"), cleanActivity = true))
    assert(log.count() == 70162L)
    assert(log.select("case_id").distinct().count() == 7000L)
    // precomputed enabled times: never after start (reference guarantees)
    assert(log.filter($"enabled_us" > $"start_us").count() == 0L)

    // The Loan golden was produced with min_batch_instance_size=10 (the
    // commented config in preprocessing/main.py; every golden instance has
    // >= 10 cases). The reference recomputes enabled times with its oracle;
    // round 5 established the Loan golden's enabled column matches the
    // l2l-gated HeuristicsConcurrencyOracle EXACTLY (70162/70162 — the
    // Design-loan-offer ⇄ Approve-Loan-Offer rework loop must be excluded
    // from the concurrency set; see EnabledTime.L2lThreshold), so this
    // replay runs K2 with the l2l gate on. (The Production golden predates
    // the gate and is byte-exact WITHOUT it — asserted in the tests above.)
    // stage the enabled frame to a leaf: discoverFull references it many
    // times, and Catalyst re-analyzes each reference's full subtree per
    // action — over a leaf the expansion is trivial (same pattern as
    // PmQueries.enabledStage in the production path)
    val en = graft.Pinned.stage(EnabledTime.withEnabled(
      log.select($"event_id", $"case_id", $"activity", $"resource", $"start_us", $"end_us"),
      l2lThreshold = Some(EnabledTime.L2lThreshold)))
    val d = graft.Pinned.stage(BatchDiscovery.discoverFull(en, minSize = 10))
    val nBatches = d.filter($"batch_id".isNotNull).select("batch_id").distinct().count()
    info(s"Loan: $nBatches batch instances at minSize=10 (golden: 587)")
    // Round 5: exactly the golden count. (Without the l2l gate the engine
    // found 588 — the extra was a 10-case Approve-Loan-Offer concurrent
    // instance on 2015-05-05 that the golden's enabled times split 5+5 in
    // the W4 wrong-enabled pass, both halves under min size.)
    assert(nBatches == 587L,
      s"batch instance count $nBatches drifted (round-5 pinned: 587 = golden, l2l-gated oracle)")

    // EP2 report anchors for 'Assess loan risk' (Loan_Application_Report.txt
    // lines 1-5): 7000 occurrences, ~5264 batched (75.20%), all sizes 14.
    val report = graft.pm.Reporting.render(d)
    val block = report.split("Batch formed by activities: ")
      .find(_.startsWith("('Assess loan risk',)")).getOrElse("")
    assert(block.contains("Num occurrences: 7000"))
    val batched = "Num occurrences in batch: (\\d+)".r
      .findFirstMatchIn(block).map(_.group(1).toLong).getOrElse(0L)
    info(s"Loan 'Assess loan risk': $batched batched occurrences (golden: 5264)")
    // exact since the round-4 K2 fixes (input-order df tie-break +
    // zero-duration self-enable exclusion)
    assert(batched == 5264L,
      s"batched occurrences $batched drifted from the golden 5264")
    assert(block.contains("Batch size distribution: Counter({14: "),
      "golden batches are all size 14")

    // EP3 ActivationRules structure vs Loan_Application_ActivationRules.txt:
    // same 2 skip notices and 3 gated rule blocks, and all three
    // observation counts land EXACTLY on the golden (258/1092/233) — the
    // instant generation is fully deterministic. Round 5: with the l2l
    // oracle the 'Approve Loan Offer' skip size lands on the golden 6 too
    // (round 4's pinned 9 was the extra since-removed ALO instance).
    val rulesTxt = graft.rules.ActivationRulesText.render(
      graft.rules.Features.featuresTable(d))
    assert(rulesTxt.contains(
      "Not extracting rules from batch ('Appraise property',) due to low size: 6"))
    assert(rulesTxt.contains(
      "Not extracting rules from batch ('Approve Loan Offer',) due to low size: 6"))
    assert("Batch: \\(".r.findAllIn(rulesTxt).length == 3, "3 gated rule blocks (golden)")
    for ((grp, n) <- Seq(("Approve application", 258), ("Assess loan risk", 1092),
        ("Cancel application", 233)))
      assert(rulesTxt.contains(s"Batch: ('$grp',):\n\t# Observations: $n"),
        s"$grp observation count drifted from golden $n")
    graft.Pinned.releaseFrame(d); graft.Pinned.release(spark)
  }
}
