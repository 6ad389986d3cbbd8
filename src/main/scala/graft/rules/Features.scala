package graft.rules

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pass-1 input: a batched event with its case's first start in the full
  * log and the seeded sample key of its (case, batch). */
private[rules] final case class FEv(batch_id: Long, batch_type: String, case_id: Long,
                                    activity: String, resource: String, start_us: Long,
                                    enabled_us: Long, case_first: Long, sample: Long)

/** One feature instant before its workload (pass 1), and after it (pass 2). */
private[rules] final case class FInstant(batch_id: Long, batch_type: String, resource: String,
                                         activities: String, firing_activity: String,
                                         instant: Long, src: Int, outcome: Int, num_queue: Long,
                                         last_en: Long, first_en: Long, min_case_first: Long,
                                         workload: Long)

/** Pass-2 input: a `[t, e]` interval of `case_id` (kind 0) or an instant
  * at `t` (kind 1, with its row). */
private[rules] final case class FSweep(resource: String, t: Long, kind: Int, case_id: Long, e: Long,
                                       row: FInstant)

/** EP3 feature engineering (activation_rules.py:33-150) as two key-sorted
  * passes over plain Scala, holding one batch, or one resource's open
  * intervals, in memory at a time.
  *
  * Per batch instance: one ACTIVATE row at the instance start; one negative
  * at the midpoint of (instance-enabled, instance-start) (the reference's
  * k equally spaced instants with k=1 — activation_rules.py:56-62); one
  * negative at a deterministically sampled case-enabled instant before the
  * start (seeded replacement for random.sample — SURVEY W12). Features of a
  * negative instant are computed over the subset of cases enabled at that
  * instant (activation_rules.py:75-89).
  *
  * All instants carry a source tag (0=activate, 1=ready-interval, 2=case-
  * enabled) so coincident instants stay distinct rows, as in the reference.
  * Times are epoch micros; day_of_week is Monday=0 (pandas origin, G1 trap).
  */
object Features {
  private val strOrd = graft.Det.utf8Order

  /** @param disc event grain from BatchDiscovery.discover (incl. enabled_us)
    * @param kReady `num_batch_ready_negative_events` (config.py:80): count
    *        of equally spaced non-activating instants in the ready interval
    * @param kEnabled `num_batch_enabled_negative_events` (config.py:81):
    *        max sampled case-enablement instants per batch
    * @return one row per (batch_id, instant, src) with the 15 features */
  def featuresTable(disc: DataFrame,
                    kReady: Int = graft.pm.PmConfig.ReadyNegEvents,
                    kEnabled: Int = graft.pm.PmConfig.EnabledNegEvents): DataFrame = {
    val spark = disc.sparkSession
    import spark.implicits._

    // pass 1, per batch_id: its instants and their case-subset features
    val ev = disc.withColumn("case_first", min($"start_us").over(Window.partitionBy("case_id")))
      .filter($"batch_id".isNotNull)
      .select($"batch_id", $"batch_type", $"case_id", $"activity", $"resource", $"start_us",
        $"enabled_us", $"case_first", graft.Det.pseudoRand($"case_id" + $"batch_id").as("sample"))
      .as[FEv]
    val instants = ev.repartition($"batch_id").sortWithinPartitions("batch_id")
      .mapPartitions(it => graft.pm.BatchDiscovery.groups(it)(_.batch_id)
        .flatMap(instantsOf(_, kReady, kEnabled)))

    // pass 2, per resource: every event's [enabled, end] interval swept
    // together with the instants
    val intervals = disc.select($"resource", $"enabled_us".as("t"), lit(0).as("kind"),
      $"case_id".cast("long").as("case_id"), $"end_us".as("e"),
      lit(null).cast(Encoders.product[FInstant].schema).as("row")).as[FSweep]
    val swept = intervals.union(instants.map(i => FSweep(i.resource, i.instant, 1, 0L, 0L, i)))
      .repartition($"resource").sortWithinPartitions("resource", "t", "kind")
      .mapPartitions(workloads)

    graft.Pinned.stageEager(swept.select(
      $"batch_id", $"batch_type", $"activities", $"firing_activity",
      $"instant".as("instant_us"), $"src",
      $"num_queue",
      ($"instant" - $"last_en").as("t_ready_us"),
      ($"instant" - $"first_en").as("t_waiting_us"),
      ($"instant" - $"min_case_first").as("t_max_flow_us"),
      weekday(graft.Det.tsNtz($"instant")).as("day_of_week"),
      dayofmonth(graft.Det.tsNtz($"instant")).as("day_of_month"),
      hour(graft.Det.tsNtz($"instant")).as("hour_of_day"),
      minute(graft.Det.tsNtz($"instant")).as("minute_of_hour"),
      $"workload", $"outcome"))
  }

  /** One batch's instants: src 0 = activate at the instance start, 1 =
    * kReady equally spaced interior points of (instance enabled, instance
    * start) — pd.date_range(periods=k+2)[1:-1], activation_rules.py:56-62
    * — and 2 = up to kEnabled case enables before the start, sampled by
    * the seeded key (activation_rules.py:63-71, W12 seeded replacement
    * for random.sample). Coincident instants of one src collapse (micros
    * resolution). Each instant's features are taken over the cases
    * enabled at it (activation_rules.py:75-89); an instant with no such
    * case has no row. */
  private def instantsOf(batch: Iterable[FEv], kReady: Int, kEnabled: Int): Iterator[FInstant] = {
    // batch-case grain: the C2 struct-min (start, enabled)
    val cases = batch.groupBy(_.case_id).values.map(evs => (evs.minBy(e => (e.start_us, e.enabled_us)), evs))
    val start = cases.map(_._1.start_us).min
    val lastEn = cases.map(_._1.enabled_us).max
    val ready = (1 to kReady).map(i => lastEn + i * (start - lastEn) / (kReady + 1)).filter(_ < start)
    val sampled = cases.map(_._1).filter(_.enabled_us < start).toSeq
      .sortBy(c => (c.sample, c.case_id)).take(kEnabled).map(_.enabled_us)
    val h = batch.head
    val resource = batch.map(_.resource).filter(_ != null).minOption(strOrd).orNull
    val firing = Ordering.Tuple3(Ordering.Long, Ordering.Long, strOrd)
    (Iterator((start, 0)) ++ ready.distinct.map((_, 1)) ++ sampled.distinct.map((_, 2))).flatMap { case (t, src) =>
      val sub = cases.filter(_._1.enabled_us <= t)
      val evs = sub.flatMap(_._2)
      if (sub.isEmpty) None
      else Some(FInstant(h.batch_id, h.batch_type, resource,
        evs.map(_.activity).filter(_ != null).toSeq.distinct.sorted(strOrd).mkString(","),
        evs.minBy(e => (e.start_us, e.enabled_us, e.activity))(firing).activity,
        t, src, if (src == 0) 1 else 0, sub.size, sub.map(_._1.enabled_us).max,
        sub.map(_._1.enabled_us).min, sub.map(_._1.case_first).min, 0L))
    }
  }

  /** workload = #distinct cases with an interval of the instant's resource
    * that contains it, both ends inclusive (utils.py:179-196). Streams one
    * resource's (t, kind)-sorted rows — intervals before instants at equal
    * t — holding only the intervals still open. */
  private def workloads(it: Iterator[FSweep]): Iterator[FInstant] = {
    val open = mutable.PriorityQueue.empty[(Long, Long)](Ordering.by[(Long, Long), Long](_._1).reverse)
    val live = mutable.HashMap.empty[Long, Int]
    var res: String = null
    var started = false
    it.flatMap { r =>
      if (!started || r.resource != res) { open.clear(); live.clear(); res = r.resource; started = true }
      while (open.nonEmpty && open.head._1 < r.t) {
        val c = open.dequeue()._2
        if (live(c) == 1) live -= c else live(c) -= 1
      }
      if (r.kind == 0) { open.enqueue((r.e, r.case_id)); live(r.case_id) = live.getOrElse(r.case_id, 0) + 1; None }
      else Some(r.row.copy(workload = live.size.toLong))
    }
  }
}
