package graft.pm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** EP2 — the human-readable batch waiting-time report
  * (reporting.py:11-206). The report data is provably tiny (one row per
  * batch instance / batch case), so aggregation happens in Spark down to
  * the batch / batch-case grain and the final stats + text render run on
  * the driver, exactly like the reference's print path.
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

  /** Render the full report for a discovered log in two actions: one
    * aggregate at batch-case grain, collected once and reduced in Scala to
    * the batches, activity keys, the six WT components
    * ([[WaitingTimes.batchCaseWT]]'s definition) and the representative
    * sequences; then one event-grain aggregate that counts every key's
    * occurrences. */
  def render(disc: DataFrame): String = {
    import disc.sparkSession.implicits._
    val bc = disc.filter($"batch_id".isNotNull)
      .groupBy($"batch_id", $"batch_type", $"case_id")
      .agg(min($"resource"), min(struct($"start_us", $"enabled_us")), max($"end_us"),
        sort_array(collect_list(struct($"start_us", $"end_us", $"event_id", $"activity"))))
      .collect().map { r =>
        val m = r.getStruct(4)
        BCase(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), m.getLong(0), m.getLong(1),
          r.getLong(5), r.getSeq[Row](6).map(e => (e.getLong(0), e.getLong(1), e.getLong(2), e.getString(3))))
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
    val evOrd: Ordering[(Long, Long, Long, String)] =
      Ordering.Tuple4(Ordering.Long, Ordering.Long, Ordering.Long, strOrd)
    val firstKey = Ordering.Tuple3(strOrd, Ordering.Long, Ordering.Long)
    val repSeq: Map[String, Seq[String]] = byBatch.groupBy { case (b, _) => acts(b) }.map { case (key, bs) =>
      val (_, rep) = bs.minBy { case (b, cs) => (minStr(cs.map(_.resource)), cs.map(_.start).min, b) }(firstKey)
      val repCase = rep.minBy { c => val (s, e, id, _) = c.evs.head; (s, e, id, c.caseId) }.caseId
      key -> rep.filter(_.caseId == repCase).flatMap(_.evs).sorted(evOrd).map(_._4).toSeq
    }
    // every key's count in ONE event-grain aggregate: single-activity keys
    // as conditional counts, multi-activity keys as rolling-window matches
    // whose frames of different lengths share one WindowExec (same
    // partition/order spec). The counts are bit-identical to one filter+count
    // per key; GoldenReplaySpec pins the rendered bytes.
    val keys = repSeq.toSeq.sortBy(_._1)
    val lens = keys.map(_._2.length).filter(_ > 1).distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("case_id").orderBy("start_us", "end_us", "event_id")
    val withWins = lens.foldLeft(disc) { (df, l) =>
      df.withColumn(s"_win_$l", collect_list($"activity").over(w.rowsBetween(0, l - 1)))
    }
    val occCounts: Map[String, Long] =
      if (keys.isEmpty) Map.empty
      else {
        val aggs = keys.map {
          case (_, Seq(a)) => count_if($"activity" === a)
          case (_, sq) => count_if(col(s"_win_${sq.length}") === array(sq.map(lit): _*))
        }
        val row = withWins.agg(aggs.head, aggs.tail: _*).head()
        keys.zipWithIndex.map { case ((key, _), i) => key -> row.getLong(i) }.toMap
      }

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
