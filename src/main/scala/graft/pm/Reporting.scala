package graft.pm

import scala.collection.mutable
import org.apache.spark.sql.DataFrame

/** EP2 — the human-readable batch waiting-time report
  * (reporting.py:11-206). The report data is small (the batched events,
  * reduced to one row per batch instance / batch case), so the batched
  * events are collected, and the grouping, the final stats and the text
  * render run on the driver, like the reference's print path. Only the
  * occurrence counts read every event, in one Spark pass.
  */
object Reporting {
  case class BatchRow(activities: String, batchType: String, batchId: Long, size: Long,
                      resource: String, bStart: Long)
  case class CaseRow(activities: String, batchType: String, batchId: Long,
                     ptUs: Long, wtUs: Long, totalUs: Long, creationUs: Long,
                     readyUs: Long, otherUs: Long)

  /** One batch case as collected: min resource, C2 struct-min (start,
    * enabled), max end and its events (start, end, event_id, activity) in
    * that order. */
  private final case class BCase(batchId: Long, batchType: String, caseId: Long, resource: String,
                                 start: Long, enabled: Long, end: Long,
                                 evs: Seq[(Long, Long, Long, String)])

  private val strOrd = graft.Det.utf8Order
  private def minStr(xs: Iterable[String]): String =
    xs.filter(_ != null).minOption(strOrd).orNull

  private val evOrd: Ordering[(Long, Long, Long, String)] =
    Ordering.Tuple4(Ordering.Long, Ordering.Long, Ordering.Long, strOrd)

  /** Render the full report for a discovered log in two actions: the
    * batched events, collected and grouped on the driver into batch cases,
    * then reduced in Scala to the batches, activity keys, the six WT
    * components ([[WaitingTimes.batchCaseWT]]'s definition) and the
    * representative sequences; then one pass clustered by case_id that
    * counts every key's occurrences ([[occurrences]]). */
  def render(disc: DataFrame): String = {
    import disc.sparkSession.implicits._
    val bc = disc.filter($"batch_id".isNotNull)
      .select($"batch_id", $"batch_type", $"case_id", $"resource", $"start_us", $"enabled_us", $"end_us",
        $"event_id", $"activity")
      .collect().groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2))).toArray.map { case ((b, t, c), rs) =>
        val (start, enabled) = rs.map(r => (r.getLong(4), r.getLong(5))).min
        BCase(b, t, c, minStr(rs.map(_.getString(3))), start, enabled, rs.map(_.getLong(6)).max,
          rs.map(r => (r.getLong(4), r.getLong(6), r.getLong(7), r.getString(8))).sorted(evOrd).toSeq)
      }
    val byBatch = bc.groupBy(_.batchId)
    // concat_ws(",", sort_array(collect_set(activity))) per batch
    val acts = byBatch.map { case (b, cs) =>
      b -> cs.flatMap(_.evs.map(_._4)).filter(_ != null).distinct.sorted(strOrd).mkString(",")
    }
    // The reference iterates batch instances by its unified ids, which
    // follow BAMA's per-(resource, activity) detection: within a group,
    // (resource asc, instance start asc). Our W8 ids are global-b_start
    // ordered, so re-derive the reference order here — it decides both the
    // representative instance for occurrence counts and Counter tie order.
    val batches = bc.groupBy(c => (c.batchId, c.batchType)).toArray.map { case ((b, t), cs) =>
      BatchRow(acts(b), t, b, cs.length, minStr(cs.map(_.resource)), cs.map(_.start).min)
    }.sortBy(b => (b.resource, b.bStart, b.batchId))

    // instance enabled = max case enabled, instance start = min case start
    val inst = byBatch.map { case (b, cs) => b -> (cs.map(_.enabled).max, cs.map(_.start).min) }
    val cases = bc.map { c =>
      val (iEn, iSt) = inst(c.batchId)
      CaseRow(acts(c.batchId), c.batchType, c.batchId, c.end - c.start, c.start - c.enabled,
        c.start - c.enabled, iEn - c.enabled, iSt - iEn, c.start - iSt)
    }

    // occurrence counts per activities key (utils.py:199-229): the group's
    // REPRESENTATIVE activity sequence is the first batch instance's
    // (reference numbering order: min (resource, instance start, batch_id))
    // case of its EARLIEST event (min (start, end, event_id)) — validated
    // 12/12 groups against the golden Production report's Num-occurrences
    // values — ordered activities WITHIN the batch. A length-1 sequence
    // counts plain activity events; length-n counts rolling-window matches
    // over every case's full trace (W2 general-n) — a batch case that
    // executed the activity twice makes even a single-activity group a
    // sequence count (golden Lapping: 112 'Lapping','Lapping' windows, not
    // 370 events).
    val firstKey = Ordering.Tuple3(strOrd, Ordering.Long, Ordering.Long)
    val repSeq: Map[String, Seq[String]] = byBatch.groupBy { case (b, _) => acts(b) }.map { case (key, bs) =>
      val (_, rep) = bs.minBy { case (b, cs) => (minStr(cs.map(_.resource)), cs.map(_.start).min, b) }(firstKey)
      val repCase = rep.minBy { c => val (s, e, id, _) = c.evs.head; (s, e, id, c.caseId) }.caseId
      key -> rep.filter(_.caseId == repCase).flatMap(_.evs).sorted(evOrd).map(_._4).toSeq
    }
    val occ = occurrences(disc, repSeq.values.toSeq)
    val occCounts: Map[String, Long] = repSeq.map { case (key, sq) => key -> occ.getOrElse(sq, 0L) }

    val typeOrder = Seq("Parallel", "Sequential task-based", "Concurrent task-based",
      "Sequential case-based", "Concurrent case-based")
    val sb = new StringBuilder
    batches.map(_.activities).distinct.sorted.foreach { key =>
      val kb = batches.filter(_.activities == key)
      val kc = cases.filter(_.activities == key)
      val totalOcc = occCounts.getOrElse(key, 0L)
      val batchedOcc = kc.length.toLong
      // python-tuple rendering (reporting.py prints the tuple key):
      // singleton keys carry the trailing comma — ('X',)
      val parts = key.split(",")
      val tuple = if (parts.length == 1) s"('${parts.head}',)"
                  else parts.map(a => s"'$a'").mkString("(", ", ", ")")
      sb ++= s"\n\nBatch formed by activities: $tuple\n"
      sb ++= s"\tNum occurrences: $totalOcc\n"
      sb ++= s"\tNum occurrences in batch: $batchedOcc\n"
      sb ++= f"\tFrequency occurrences in batch: ${if (totalOcc == 0) 0d else batchedOcc * 100.0 / totalOcc}%.2f%%\n"
      sb ++= s"\tBatch size distribution: ${counter(kb.map(_.size))}\n"
      sb ++= statBlock("\t", kc)
      typeOrder.foreach { bt =>
        val tb = kb.filter(_.batchType == bt)
        val tc = kc.filter(_.batchType == bt)
        if (tb.nonEmpty) {
          sb ++= s"\t- Batch type: $bt\n"
          sb ++= s"\t\tNum batch instances: ${tb.length}\n"
          sb ++= s"\t\tBatch size distribution: ${counter(tb.map(_.size))}\n"
          sb ++= s"\t\tNum batch cases: ${tc.length}\n"
          sb ++= f"\t\tFrequency: ${if (totalOcc == 0) 0d else tc.length * 100.0 / totalOcc}%.2f%%\n"
          sb ++= statBlock("\t\t", tc)
        }
      }
    }
    sb.result()
  }

  /** How often each of `seqs` occurs in `disc`: a sequence of length n
    * counts the windows of n consecutive events of a case, ordered by
    * (start_us, end_us, event_id), whose non-null activities equal it (the
    * window + `collect_list` form, which skips nulls; a sequence holding a
    * null never occurs). One pass clustered by case_id counts every
    * sequence per partition, and the driver merges the counts as each task
    * ends. */
  private[graft] def occurrences(disc: DataFrame, seqs: Seq[Seq[String]]): Map[Seq[String], Long] =
    if (seqs.isEmpty) Map.empty
    else {
      import disc.sparkSession.implicits._
      val byLen = seqs.map(_.toVector).distinct.groupBy(_.length).map { case (l, ss) => l -> ss.toSet }
      disc.select($"case_id", $"start_us", $"end_us", $"event_id", $"activity")
        .repartition($"case_id").sortWithinPartitions("case_id", "start_us", "end_us", "event_id")
        .rdd.mapPartitions { it =>
          val n = mutable.HashMap.empty[Vector[String], Long].withDefaultValue(0L)
          BatchDiscovery.groups(it)(_.get(0)).foreach { rows =>
            val acts = rows.map(_.getString(4)).toVector
            for (i <- acts.indices; (l, want) <- byLen) {
              val w = acts.slice(i, i + l).filter(_ != null)
              if (want(w)) n(w) += 1
            }
          }
          n.iterator
        }
        .aggregate(Map.empty[Seq[String], Long])((m, kv) => m.updated(kv._1, m.getOrElse(kv._1, 0L) + kv._2),
          (m, o) => o.foldLeft(m) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) })
    }

  private def statBlock(indent: String, cs: Array[CaseRow]): String = {
    val sb = new StringBuilder
    sb ++= s"${indent}Average overall processing time: ${fmtAvg(cs.map(_.ptUs))} sec\n"
    sb ++= s"${indent}Average overall waiting time: ${fmtAvg(cs.map(_.wtUs))} sec\n"
    val sumPt = cs.map(_.ptUs).sum.toDouble
    val sumWt = cs.map(_.wtUs).sum.toDouble
    val cte = if (sumPt > 0) sumPt / (sumPt + sumWt) else 0d
    sb ++= f"${indent}CTE: $cte%.2f\n"
    sb ++= s"${indent}Average total wt: ${fmtAvg(cs.map(_.totalUs))} sec\n"
    sb ++= s"${indent}Average creation wt: ${fmtAvg(cs.map(_.creationUs))} sec\n"
    sb ++= s"${indent}Average ready wt: ${fmtAvg(cs.map(_.readyUs))} sec\n"
    sb ++= s"${indent}Average other wt: ${fmtAvg(cs.map(_.otherUs))} sec\n"
    sb.result()
  }

  /** Counter({2: 77, 3: 10}) — count desc; TIES keep first-appearance
    * order like Python's Counter.most_common (stable sort over insertion
    * order), so callers must pass sizes in the reference's iteration order
    * (ascending batch id). */
  private def counter(xs: Array[Long]): String = {
    val cnt = xs.groupBy(identity).view.mapValues(_.length).toMap
    val items = xs.distinct.sortBy(k => -cnt(k)).map(k => s"$k: ${cnt(k)}")
    s"Counter({${items.mkString(", ")}})"
  }

  /** Mean duration rendered pandas-Timedelta-style: `D days HH:MM:SS`
    * + `.ffffff` (micros) when the sub-second part is micro-aligned, else
    * 9 digits. The mean goes through FLOAT64 like the reference
    * (numpy mean of Timedeltas: exact ns sum, float division, round to
    * nearest ns) — an exact-integer mean is off by ±1 ns on ~half the
    * golden lines because the double quantizes sums above 2^53 ns. */
  private def fmtAvg(xs: Array[Long]): String = {
    if (xs.isEmpty) return "0 days 00:00:00"
    // exact integer floor of the ns mean. The reference goes through
    // numpy/pandas float64, whose last-digit direction is an artifact of
    // summation order — floor reproduces all but 2 golden Production lines
    // (those land 1 ns higher); an exact rule beats chasing double noise.
    val ns = (xs.map(BigInt(_)).sum * 1000) / xs.length
    val totalSec = (ns / 1000000000L).toLong
    val frac = (ns % 1000000000L).toLong
    val days = totalSec / 86400
    val h = totalSec % 86400 / 3600
    val m = totalSec % 3600 / 60
    val s = totalSec % 60
    val base = f"$days days $h%02d:$m%02d:$s%02d"
    if (frac == 0) base
    else if (frac % 1000 == 0) base + f".${frac / 1000}%06d"
    else base + f".$frac%09d"
  }
}
