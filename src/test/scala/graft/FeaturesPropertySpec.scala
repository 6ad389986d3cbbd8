package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Features.featuresTable` against a brute force written from
  * the definitions (activation_rules.py:33-150, utils.py:179-196), over
  * random small logs with hand-assigned batches:
  *
  *   - instants: the instance start (src 0), kReady equally spaced points of
  *     (last case enabled, instance start) (src 1), and kEnabled case
  *     enables before the start, sampled by the seeded key (src 2);
  *   - per instant, over the batch's cases enabled at it: num_queue, the
  *     ready / waiting / max-flow times and the firing activity;
  *   - workload: the distinct cases of the whole log with an
  *     [enabled, end] interval on the batch's resource that contains the
  *     instant, both ends inclusive.
  *
  * Times sit on a grid with +1 offsets, so the samples contain touching
  * intervals (enabled == previous end + 1), instants equal to an interval
  * end and coincident instants of different src; the test asserts that each
  * occurs. Seeded: a failure reproduces by its printed sample index.
  */
class FeaturesPropertySpec extends AnyFunSuite {
  import FeaturesPropertySpec.E
  lazy val spark = SparkSuite.spark

  private val Types = Map(1L -> "Parallel", 2L -> "Sequential task-based", 3L -> "Concurrent task-based")

  private def randomLog(rnd: scala.util.Random): Seq[E] = {
    var id = 0L
    (1L to 3L + rnd.nextInt(5)).flatMap { c =>
      var prevEnd = rnd.nextInt(6) * 10L
      (1 to 1 + rnd.nextInt(4)).map { _ =>
        val enabled = prevEnd + Seq(0L, 1L, 1L, 10L)(rnd.nextInt(4))
        val start = enabled + Seq(0L, 1L, 10L)(rnd.nextInt(3))
        val end = start + Seq(0L, 9L, 10L, 20L)(rnd.nextInt(4))
        prevEnd = end
        id += 1
        val b = if (rnd.nextInt(3) == 0) None else Some(1L + rnd.nextInt(3))
        E(id, c, Seq("A", "B", "C")(rnd.nextInt(3)), s"r${rnd.nextInt(2)}", start, end, enabled,
          b, b.map(Types))
      }
    }
  }

  private def pseudoRand(id: Long): Long = {
    val p = 1000000007L
    Math.floorMod(Math.floorMod(id, p) * 2654435761L, p)
  }

  /** (batch_id, instant, src) -> (num_queue, t_ready, t_waiting, t_max_flow,
    * firing_activity, workload), from the definitions. */
  private def bruteForce(log: Seq[E], kReady: Int, kEnabled: Int)
      : Map[(Long, Long, Int), (Long, Long, Long, Long, String, Long)] = {
    val caseFirst = log.groupBy(_.case_id).map { case (c, es) => c -> es.map(_.start_us).min }
    log.filter(_.batch_id.isDefined).groupBy(_.batch_id.get).toSeq.flatMap { case (b, bev) =>
      // case start / enabled: the lexicographic min (start, enabled)
      val cases = bev.groupBy(_.case_id).map { case (c, es) =>
        c -> es.map(e => (e.start_us, e.enabled_us)).min
      }
      val start = cases.values.map(_._1).min
      val lastEn = cases.values.map(_._2).max
      val resource = bev.map(_.resource).min
      val ready = (1 to kReady).map(i => lastEn + i * (start - lastEn) / (kReady + 1)).filter(_ < start)
      val sampled = cases.toSeq.filter(_._2._2 < start)
        .sortBy { case (c, _) => (pseudoRand(c + b), c) }.take(kEnabled).map(_._2._2)
      val instants = ((start, 0) +: ready.map((_, 1))) ++ sampled.map((_, 2))
      instants.distinct.flatMap { case (t, src) =>
        val sub = cases.filter(_._2._2 <= t)
        if (sub.isEmpty) None
        else {
          val firing = bev.filter(e => sub.contains(e.case_id))
            .minBy(e => (e.start_us, e.enabled_us, e.activity)).activity
          val workload = log.filter(e => e.resource == resource && e.enabled_us <= t && t <= e.end_us)
            .map(_.case_id).distinct.size.toLong
          Some((b, t, src) -> (sub.size.toLong, t - sub.values.map(_._2).max, t - sub.values.map(_._2).min,
            t - sub.keys.map(caseFirst).min, firing, workload))
        }
      }
    }.toMap
  }

  test("featuresTable matches the brute-force definitions on random logs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019L)
    var touching, atEnd, coincident = 0
    for (sample <- 1 to 12) {
      val log = randomLog(rnd)
      val (kReady, kEnabled) = if (sample % 3 == 0) (2, 2) else (1, 1)
      def clue(msg: String) = s"[sample $sample, k=($kReady, $kEnabled)] $msg (log: $log)"

      val feats = rules.Features.featuresTable(log.toDF(), kReady, kEnabled)
      val got = feats.select("batch_id", "instant_us", "src", "num_queue", "t_ready_us",
          "t_waiting_us", "t_max_flow_us", "firing_activity", "workload").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) ->
          (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7), r.getLong(8)))
      Pinned.releaseFrame(feats)
      assert(got.map(_._1).distinct.length == got.length, clue("duplicate (batch_id, instant, src) rows"))
      val want = bruteForce(log, kReady, kEnabled)
      assert(got.toMap == want, clue(s"got ${got.toMap}, want $want"))

      touching += log.count(a => log.exists(p => p.case_id == a.case_id &&
        p.resource == a.resource && a.enabled_us == p.end_us + 1))
      atEnd += want.keys.count { case (b, t, _) =>
        val r = log.filter(_.batch_id.contains(b)).map(_.resource).min
        log.exists(e => e.resource == r && e.end_us == t)
      }
      coincident += want.keys.groupBy(k => (k._1, k._2)).count(_._2.size > 1)
    }
    assert(touching > 0 && atEnd > 0 && coincident > 0,
      s"samples miss an edge: touching=$touching, instant at an end=$atEnd, coincident=$coincident")
  }
}

object FeaturesPropertySpec {
  final case class E(event_id: Long, case_id: Long, activity: String, resource: String,
                     start_us: Long, end_us: Long, enabled_us: Long,
                     batch_id: Option[Long], batch_type: Option[String])
}
