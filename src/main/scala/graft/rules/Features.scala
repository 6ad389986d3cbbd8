package graft.rules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EP3 feature engineering (activation_rules.py:33-150), fully set-based.
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

    val bev = disc.filter($"batch_id".isNotNull)
      .select($"batch_id", $"batch_type", $"case_id", $"activity", $"resource",
        $"start_us", $"end_us", $"enabled_us")

    // batch-case grain: C2 struct-min enabled, min start.
    // bcase and instants are each consumed by 3-6 downstream branches
    // (subs, subev, the negative-instant generators, the workload queries,
    // the final join): STAGE boundaries (round 7, the discoverFull
    // treatment) so one action computes each small grain once AND every
    // consumer plans against a leaf — with persist() boundaries each
    // branch re-analyzed/re-codegen'd the cached subtree (the round-4
    // bench's #1 cost was this build). Intermediates are released once
    // the final frame is eagerly materialized. Grains are bounded by
    // #batched cases / #batches — far below event grain.
    val tmp = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def staged(df: DataFrame): DataFrame = { val f = graft.Pinned.stage(df); tmp += f; f }
    val bcase = staged(bev.groupBy($"batch_id", $"case_id")
      .agg(min(struct($"start_us".as("s"), $"enabled_us".as("e"))).as("m"))
      .select($"batch_id", $"case_id", $"m.s".as("case_start"), $"m.e".as("case_enabled")))

    // instance grain — LAZY (round 8, the discoverFull lesson): inst's
    // three consumers (pos/neg1/neg2) all sit inside the instants
    // materialization, and meta's two sit in separate downstream jobs;
    // both are one cheap aggregate over a staged LEAF (bcase / the disc
    // input), so re-running them per consumer costs less than two more
    // eager checkpoint barriers did.
    val inst = bcase.groupBy($"batch_id")
      .agg(min($"case_start").as("inst_start"),
        min($"case_enabled").as("inst_first_en"),
        max($"case_enabled").as("inst_last_en"))
    val meta = bev.groupBy($"batch_id")
      .agg(first($"batch_type").as("batch_type"), min($"resource").as("resource"))

    // instants: src 0 = activate, 1 = ready-interval points, 2 = sampled
    // case enables. kReady equally spaced interior points of
    // (inst_last_en, inst_start) — pd.date_range(periods=k+2)[1:-1],
    // activation_rules.py:56-62 — and up to kEnabled seeded case-enable
    // samples (activation_rules.py:63-71, W12 seeded replacement for
    // random.sample). Defaults (1, 1) are the reference's config.py:80-81.
    val pos = inst.select($"batch_id", $"inst_start".as("instant"), lit(0).as("src"), lit(1).as("outcome"))
    val neg1 = inst
      .select($"batch_id", explode(sequence(lit(1), lit(kReady))).as("i"),
        $"inst_last_en", $"inst_start")
      .select($"batch_id",
        ($"inst_last_en" +
          expr(s"(i * (inst_start - inst_last_en)) div ${kReady + 1}")).as("instant"),
        lit(1).as("src"), lit(0).as("outcome"), $"inst_start")
      .filter($"instant" < $"inst_start").drop("inst_start")
      .distinct() // coincident interior points collapse (micros resolution)
    val sampleKey = graft.Det.pseudoRand($"case_id" + $"batch_id")
    val neg2 = bcase.join(inst.select($"batch_id", $"inst_start"), Seq("batch_id"))
      .filter($"case_enabled" < $"inst_start")
      .withColumn("rn", row_number().over(
        Window.partitionBy("batch_id").orderBy(sampleKey, $"case_id")))
      .filter($"rn" <= kEnabled)
      .select($"batch_id", $"case_enabled".as("instant"), lit(2).as("src"), lit(0).as("outcome"))
    val instants = staged(pos.unionByName(neg1).unionByName(neg2))

    // subset of cases enabled at each instant + per-case first start in the FULL log
    val caseFirst = disc.groupBy($"case_id").agg(min($"start_us").as("case_first_start"))
    // ONE event-grain pass for the case-subset stats AND the activities/
    // firing key (they were two aggregations over the same instants⋈bcase
    // join, re-joined on (batch_id, instant, src) afterwards — two
    // exchanges plus a join for values one group-by computes): every bcase
    // row has >= 1 bev row by construction (bcase = bev.groupBy), so over
    // the event grain num_queue = countDistinct(case_id) and the per-case-
    // constant min/max aggregates are duplicate-row-invariant.
    val subev = instants
      .join(bcase, Seq("batch_id"))
      .filter($"case_enabled" <= $"instant")
      .join(caseFirst, Seq("case_id"))
      .join(bev.select($"batch_id", $"case_id", $"activity", $"start_us", $"enabled_us"),
        Seq("batch_id", "case_id"))
    val subs = subev
      .groupBy($"batch_id", $"instant", $"src", $"outcome")
      .agg(countDistinct($"case_id").as("num_queue"),
        max($"case_enabled").as("last_en"),
        min($"case_enabled").as("first_en"),
        min($"case_first_start").as("min_case_first"),
        concat_ws(",", sort_array(collect_set($"activity"))).as("activities"),
        min(struct($"start_us".as("s"), $"enabled_us".as("e"), $"activity".as("a"))).as("f"))
      .withColumn("firing_activity", $"f.a").drop("f")

    // workload = #distinct cases with an active event of the batch's
    // resource at the instant (utils.py:179-196). The naive form is an
    // interval join whose only equi-key is the low-cardinality resource —
    // a quasi-cross-join. Scalable form with identical semantics over the
    // integer-micros domain: union each case's [enabled, end] intervals per
    // resource (K1-style sessionization), emit +1/-1 boundary deltas, and
    // read the running sum at each query instant (deltas sort before
    // queries at equal t, matching the inclusive bounds).
    val wiv = Window.partitionBy("resource", "wcase").orderBy("s", "e")
    val merged = disc
      .select($"resource", $"case_id".as("wcase"), $"enabled_us".as("s"), $"end_us".as("e"))
      .withColumn("rme", max($"e").over(wiv.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("flag", when($"rme".isNull || $"s" > $"rme" + 1, 1).otherwise(0))
      .withColumn("grp", sum($"flag").over(wiv.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"resource", $"wcase", $"grp")
      .agg(min($"s").as("s"), max($"e").as("e"))
    val deltas = merged.select($"resource", $"s".as("t"), lit(1L).as("d"))
      .unionByName(merged.select($"resource", ($"e" + 1).as("t"), lit(-1L).as("d")))
      .groupBy($"resource", $"t").agg(sum($"d").as("d"))
    val qrys = instants.select($"batch_id", $"instant").distinct()
      .join(meta.select($"batch_id", $"resource"), Seq("batch_id"))
    val stream = deltas
      .select($"resource", $"t", $"d", lit(0).as("kind"), lit(null).cast("long").as("batch_id"))
      .unionByName(qrys.select($"resource", $"instant".as("t"), lit(0L).as("d"),
        lit(1).as("kind"), $"batch_id"))
    val ws = Window.partitionBy("resource").orderBy("t", "kind")
    val wl = stream
      .withColumn("wlv", sum($"d").over(ws.rowsBetween(Window.unboundedPreceding, 0)))
      .filter($"kind" === 1)
      .select($"batch_id", $"t".as("instant"), $"wlv".as("workload"))

    val out = graft.Pinned.stageEager(subs
      // meta is batch grain — unbounded at 100 TB; shuffle-join, AQE
      // broadcasts at runtime when actually small
      .join(meta, Seq("batch_id"))
      .join(wl, Seq("batch_id", "instant"), "left")
      .na.fill(0L, Seq("workload"))
      .select(
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
    tmp.foreach(graft.Pinned.releaseFrame)
    out
  }
}
