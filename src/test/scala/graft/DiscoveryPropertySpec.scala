package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants of the K1 batch-discovery kernel over random
  * small logs — the adversarial complement to the golden replays (which pin
  * two real logs) and PmKernelSpec (hand-picked branches). Each property is
  * a structural truth of the reference semantics (batch_detection.R +
  * discovery.py raw-label mapping) that must hold for EVERY input:
  *
  *   1. event preservation — discovery annotates, never drops/duplicates;
  *   2. batch well-formedness — ≥2 distinct cases (min_batch_instance_size),
  *      single (activity, resource) per task batch, known type label;
  *   3. canonical renumbering — batch ids are dense 1..N (W8);
  *   4. input-order invariance — shuffling input rows changes nothing
  *      (all internal orderings are total; at cluster scale partition order
  *      is arbitrary, so this is the distributed-correctness property).
  *
  * Full discovery (task + case-based) adds: every task id is below every
  * case-based id, and the samples must actually produce case-based batches.
  *
  * Times sit on a small grid so the generator actually produces the hard
  * collisions (simultaneous, abutting, overlapping, equal-end). Seeded:
  * a failure reproduces by its printed sample index.
  */
class DiscoveryPropertySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def randomLog(rnd: scala.util.Random): List[(Long, Long, String, String, Long, Long, Long)] = {
    val nCases = 1 + rnd.nextInt(6)
    (for {
      c <- 1 to nCases
      e <- 1 to (1 + rnd.nextInt(3))
    } yield (c, e)).zipWithIndex.map { case ((c, _), i) =>
      val start = rnd.nextInt(9) * 100L
      val dur = (1 + rnd.nextInt(4)) * 100L
      (i.toLong + 1, c.toLong,
        if (rnd.nextBoolean()) "A" else "B",
        s"r${rnd.nextInt(2)}",
        start, start + dur, math.max(0L, start - 50L))
    }.toList
  }

  private def toDf(rows: List[(Long, Long, String, String, Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("event_id", "case_id", "activity", "resource", "start_us", "end_us", "enabled_us")
  }

  test("discovery invariants hold on random logs; output is input-order invariant") {
    val rnd = new scala.util.Random(20260813L)
    for (sample <- 1 to 8) {
      val rows = randomLog(rnd)
      def clue(msg: String) = s"[sample $sample] $msg (log: $rows)"

      val out = pm.BatchDiscovery.discover(toDf(rows))
        .select("event_id", "case_id", "activity", "resource", "batch_id", "batch_type")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.getString(5))))
        .sortBy(_._1)

      // 1. preservation
      assert(out.map(_._1).toSeq == rows.map(_._1).sorted, clue("event ids not preserved"))

      val byBatch = out.filter(_._5.isDefined).groupBy(_._5.get)
      byBatch.foreach { case (bid, evs) =>
        // 2. well-formedness
        assert(evs.map(_._2).distinct.length >= 2, clue(s"batch $bid has <2 distinct cases"))
        assert(evs.map(e => (e._3, e._4)).distinct.length == 1,
          clue(s"batch $bid spans multiple (activity, resource)"))
        assert(evs.forall(e => Set("Parallel", "Sequential task-based",
          "Concurrent task-based")(e._6.get)), clue(s"batch $bid has unknown type"))
        assert(evs.map(_._6).distinct.length == 1, clue(s"batch $bid mixes type labels"))
      }
      // 3. dense renumbering
      val ids = byBatch.keySet
      assert(ids == (1L to ids.size).toSet, clue(s"batch ids not dense 1..N: $ids"))

      // 4. input-order invariance (cluster partition order is arbitrary)
      val shuffled = rnd.shuffle(rows)
      val out2 = pm.BatchDiscovery.discover(toDf(shuffled))
        .select("event_id", "batch_id", "batch_type").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.getString(2))))
        .sortBy(_._1)
      assert(out2.toSeq == out.map(e => (e._1, e._5, e._6)).toSeq,
        clue("discovery output depends on input row order"))
      Pinned.release(spark)
    }
  }

  /** Random log of same-resource runs: every case runs an A->B(->C) block
    * on one resource, starting at a slot where blocks of other cases
    * coincide, overlap or abut, so subsequence units chain into case-based
    * batches; half the cases also run one later D event, which batches at
    * task level. A quarter of the events are enabled only at their start,
    * which makes the W4 split fire. */
  private def randomRunLog(rnd: scala.util.Random): List[(Long, Long, String, String, Long, Long, Long)] = {
    var id = 0L
    def ev(c: Long, act: String, res: String, start: Long, dur: Long) = {
      id += 1
      (id, c, act, res, start, start + dur, if (rnd.nextInt(4) == 0) start else 0L)
    }
    (1L to 3L + rnd.nextInt(5)).toList.flatMap { c =>
      val res = s"r${rnd.nextInt(2)}"
      val t = Seq(0L, 0L, 25L, 150L, 300L)(rnd.nextInt(5))
      val dB = if (rnd.nextInt(4) == 0) 75L else 100L
      List(ev(c, "A", res, t, 50L), ev(c, "B", res, t + 50L, dB)) ++
        (if (rnd.nextInt(3) == 0) List(ev(c, "C", res, t + 50L + dB, 50L)) else Nil) ++
        (if (rnd.nextBoolean()) List(ev(c, "D", res, 600L + rnd.nextInt(3) * 25L, 50L + rnd.nextInt(2) * 50L))
         else Nil)
    }
  }

  test("full discovery invariants hold on random run logs; task ids precede case-based ids") {
    val taskTypes = Set("Parallel", "Sequential task-based", "Concurrent task-based")
    val caseTypes = Set("Sequential case-based", "Concurrent case-based")
    val rnd = new scala.util.Random(20261017L)
    var caseBased = 0
    var both = 0
    for (sample <- 1 to 12) {
      val rows = randomRunLog(rnd)
      def clue(msg: String) = s"[sample $sample] $msg (log: $rows)"
      def run(rs: List[(Long, Long, String, String, Long, Long, Long)]) =
        collected(pm.BatchDiscovery.discoverFull(toDf(rs)))
      def collected(d: org.apache.spark.sql.DataFrame) = {
        val out = d.select("event_id", "case_id", "activity", "resource", "batch_id", "batch_type")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
            Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.getString(5))))
          .sortBy(_._1)
        Pinned.releaseFrame(d)
        out
      }
      val out = run(rows)

      // 1. preservation
      assert(out.map(_._1).toSeq == rows.map(_._1).sorted, clue("event ids not preserved"))

      // 2. known labels, >= 2 cases and one resource per batch; a
      // case-based batch spans >= 2 activities (its units do), a task batch one
      val byBatch = out.filter(_._5.isDefined).groupBy(_._5.get)
      val (spIds, taskIds) = byBatch.keySet.partition(b => byBatch(b).map(_._3).distinct.length > 1)
      byBatch.foreach { case (bid, evs) =>
        assert(evs.forall(e => e._6.exists(taskTypes ++ caseTypes)), clue(s"batch $bid has unknown type"))
        assert(evs.map(_._2).distinct.length >= 2, clue(s"batch $bid has <2 distinct cases"))
        assert(evs.map(_._4).distinct.length == 1, clue(s"batch $bid spans resources"))
        if (!spIds(bid))
          assert(evs.forall(_._6.exists(taskTypes)), clue(s"task batch $bid has a case-based type"))
      }
      caseBased += spIds.size
      if (spIds.nonEmpty && taskIds.nonEmpty) both += 1

      // 3. dense renumbering, every task id below every case-based id
      val ids = byBatch.keySet
      assert(ids == (1L to ids.size).toSet, clue(s"batch ids not dense 1..N: $ids"))
      assert(taskIds.isEmpty || spIds.isEmpty || taskIds.max < spIds.min,
        clue(s"task ids $taskIds do not precede case-based ids $spIds"))

      // 4. input-order invariance
      assert(run(rnd.shuffle(rows)).toSeq == out.toSeq, clue("discovery output depends on input row order"))

      // 5. over caller stages whose segmentation lacks run_no: it is read
      // from the runs log by a shuffle join (no broadcast), which loses the
      // segmentation's layout
      val runsEv = pm.SubprocessBatches.withRuns(toDf(rows))
      val seg = Pinned.stage(pm.BatchDiscovery.segment(runsEv).drop("run_no"))
      val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try assert(collected(pm.BatchDiscovery.discoverFullFromStages(runsEv, seg)).toSeq == out.toSeq,
        clue("discoverFullFromStages over a segmentation without run_no differs"))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      Pinned.releaseFrame(seg)
      Pinned.release(spark)
    }
    assert(caseBased > 0, "no sample produced a case-based batch: the subprocess path went untested")
    assert(both > 0, "no sample mixed task and case-based batches: the id order went untested")
  }

  test("K3 waiting-time decomposition invariants hold on random discovered logs") {
    val rnd = new scala.util.Random(8132026L)
    for (sample <- 1 to 6) {
      val rows = randomLog(rnd)
      def clue(msg: String) = s"[sample $sample] $msg (log: $rows)"
      val d = pm.BatchDiscovery.discover(toDf(rows))
      val wt = pm.WaitingTimes.batchCaseWT(d).collect()
      wt.foreach { r =>
        val total = r.getAs[Long]("total_wt_us")
        val parts = Seq("creation_wt_us", "ready_wt_us", "other_wt_us")
          .map(r.getAs[Long])
        // the decomposition is exact and each component non-negative
        assert(parts.forall(_ >= 0L), clue(s"negative WT component: $r"))
        assert(total == parts.sum, clue(s"WT decomposition not exact: $r"))
      }
      // one WT row per (batch, case): no duplicates, only batched cases
      val keys = wt.map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("case_id")))
      assert(keys.distinct.length == keys.length, clue("duplicate (batch, case) WT rows"))
      Pinned.release(spark)
    }
  }
}
