package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-user running state for the stateful-streaming example. */
case class UserCount(user_id: Long, n: Long, sum_value_e2: Long)

/** Closed session emitted by [[StreamOps.sessionsViaFlatMapGroups]]. */
case class SessionOut(user_id: Long, sess_start_us: Long, sess_end_us: Long,
                      n: Long, sum_value_e2: Long)

/** Open-session state for [[StreamOps.sessionsViaFlatMapGroups]]. */
case class OpenSession(startUs: Long, lastUs: Long, n: Long, cents: Long)

/** Structured-Streaming-shaped aggregations (SURVEY §2 I). Each transform
  * works identically on a batch DataFrame and on a readStream source; the
  * streaming path adds a watermark. Batch mode is what the correctness gate
  * exercises; the streaming path is covered by ScalaTest with a memory sink.
  */
object StreamOps {
  /** Tumbling 1h window counts per event_type. */
  def tumbling(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.Det.dsum($"value").as("sum_value"))
      .select($"w.start".cast("timestamp_ntz").as("win_start"), $"event_type", $"n", $"sum_value")
  }

  /** Sliding 1h window, 30min slide. */
  def sliding(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.Det.dsum($"value").as("sum_value"))
      .select($"w.start".cast("timestamp_ntz").as("win_start"), $"event_type", $"n", $"sum_value")
  }

  /** Per-user session windows with a 10min inactivity gap.
    *
    * Batch form uses island detection (lag + running sum of new-session
    * flags) rather than `session_window`: identical semantics (events merge
    * while gap < 10min; session end = last ts + gap), but O(n log n) with
    * no degenerate path — `session_window`'s MergingSessionsIterator
    * collapses when a key's whole history merges into one giant session
    * (observed: a single task pinned for minutes at sf0.1). The
    * session_window/streaming variant below stays for readStream use. */
  def sessions(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val gapUs = 600000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("t", "event_id")
    events
      .select($"user_id", $"event_id", graft.Det.us($"ts").as("t"), $"value")
      .withColumn("flag",
        when(lag($"t", 1).over(w).isNull || $"t" - lag($"t", 1).over(w) >= gapUs, 1).otherwise(0))
      .withColumn("sess", sum($"flag").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sess")
      .agg(count(lit(1)).as("n"), graft.Det.dsum($"value").as("sum_value"),
        min($"t").as("s"), max($"t").as("e"))
      .select($"user_id",
        graft.Det.tsNtz($"s").as("sess_start"),
        graft.Det.tsNtz($"e" + gapUs).as("sess_end"),
        $"n", $"sum_value")
  }

  /** session_window form (streaming-capable; use with readStream + a
    * watermark). Semantically equal to [[sessions]]. */
  def sessionsViaSessionWindow(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy($"user_id", session_window($"ts", "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"), graft.Det.dsum($"value").as("sum_value"))
      .select($"user_id",
        $"w.start".cast("timestamp_ntz").as("sess_start"),
        $"w.end".cast("timestamp_ntz").as("sess_end"),
        $"n", $"sum_value")
  }

  /** Custom keyed state over a stream: per-user running (count, exact
    * cents-sum) via mapGroupsWithState — the KeyValueGroupedDataset state
    * API the reference's streaming-shaped extensions call for. Works on a
    * readStream source (update mode); on a batch frame it degenerates to
    * one state update per key. */
  def runningUserCounts(events: DataFrame): org.apache.spark.sql.Dataset[UserCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events
      .select($"user_id", round($"value" * 100d).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserCount, UserCount](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          val (dn, dsum) = rows.foldLeft((0L, 0L)) { case ((n, s), (_, c)) => (n + 1, s + c) }
          val prev = state.getOption.getOrElse(UserCount(uid, 0L, 0L))
          val next = UserCount(uid, prev.n + dn, prev.sum_value_e2 + dsum)
          state.update(next)
          next
      }
  }

  /** Per-user 10-minute-gap sessions via flatMapGroupsWithState — the
    * multi-output custom-state API ([[runningUserCounts]] covers the
    * single-output mapGroupsWithState form). Append-mode: a session row is
    * emitted exactly once, when it CLOSES — within a call when the next
    * event's gap reaches 10min, or via EVENT-TIME TIMEOUT once the
    * watermark passes (last event + gap), so state size is bounded by the
    * number of users with an open session inside the lateness horizon, not
    * by stream length. Semantics equal [[sessions]] (same gap, session end
    * = last event + gap; sums in exact cents). On a batch frame timeouts
    * never fire and state is discarded after the single call per key, so
    * the trailing open session is emitted in-call instead — batch output
    * is exactly [[sessions]].
    *
    * Memory bound: the lambda materializes one KEY x TRIGGER of rows (the
    * sort needs them) — bounded by ingest-per-trigger in streaming; in
    * batch a pathological single-user log materializes that user's events,
    * the same bound as any mapGroups (use [[sessions]], the window form,
    * for batch workloads at scale). */
  def sessionsViaFlatMapGroups(events: DataFrame): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 600000000L
    val isStreaming = events.isStreaming
    // the WATERMARKED column itself must reach the stateful operator —
    // deriving epoch micros before the groupByKey strips the event-time
    // metadata and event-time timeout is rejected; convert in the lambda.
    // Spark's watermark machinery requires TimestampType, so the NTZ wall
    // clock is converted TIMEZONE-INVARIANTLY to its UTC instant
    // (Det.ntzAsUtcInstant) — the earlier session-tz cast shifted every
    // emitted bound by the tz offset relative to the batch form for
    // non-UTC sessions (round-6 advisor finding).
    val withTs = graft.Tables.normalizeTs(events)
      .withColumn("ts", graft.Det.ntzAsUtcInstant($"ts"))
    val prepared =
      if (isStreaming) withTs.withWatermark("ts", "2 hours") else withTs
    prepared
      .select($"user_id", $"ts",
        // decimal(18,2) first, like the oracle's CAST: double multiply +
        // round disagrees with decimal rounding on >2-decimal inputs whose
        // double*100 lands below the .5 boundary (1.005*100 = 100.4999...
        // -> double-round 100, decimal HALF_UP on "1.005" -> 101); pinned
        // by FunctionsSpec "cents conversion"
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(Long, java.time.Instant, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rowsTs: Iterator[(Long, java.time.Instant, Long)],
         state: GroupState[OpenSession]) =>
          val rows = rowsTs.map { case (u, ts, c) =>
            (u, ts.getEpochSecond * 1000000L + ts.getNano / 1000L, c)
          }
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.startUs, s.lastUs + gapUs, s.n, s.cents))
          } else {
            // rows arrive unordered; sessionization needs time order
            val sorted = rows.toArray.sortBy(_._2)
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var open = state.getOption
            for ((_, t, c) <- sorted) open match {
              case Some(s) if t - s.lastUs < gapUs =>
                open = Some(OpenSession(s.startUs, math.max(s.lastUs, t), s.n + 1, s.cents + c))
              case Some(s) =>
                out += SessionOut(uid, s.startUs, s.lastUs + gapUs, s.n, s.cents)
                open = Some(OpenSession(t, t, 1, c))
              case None =>
                open = Some(OpenSession(t, t, 1, c))
            }
            open.foreach { s =>
              if (isStreaming) {
                state.update(s)
                // fire once the watermark passes the session close time
                state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000L)
              } else out += SessionOut(uid, s.startUs, s.lastUs + gapUs, s.n, s.cents)
            }
            out.iterator
          }
      }
  }

  /** Exact streaming deduplication (the J1 dedup surface in streaming form
    * — what a continuously-ingesting training pipeline runs): DISTINCT on
    * the content key. Batch form; key-only projection makes dropDuplicates
    * deterministic (no arbitrary carried columns). */
  def dedup(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .select($"user_id", $"event_type", graft.Det.us($"ts").as("t_us"))
      .dropDuplicates()
  }

  /** Streaming [[dedup]]: watermarked dropDuplicates — per-key state is
    * dropped once the watermark passes the event time, so state is bounded
    * by the lateness horizon, not the stream length (the only shape that
    * survives an unbounded 100 TB/day ingest). A row arriving later than
    * the watermark is DROPPED outright (never re-emitted even if its state
    * expired) — asserted in StreamingSpec's late-data case.
    *
    * Watermark + state run directly on the TIMESTAMP_NTZ event time: the
    * earlier session-tz cast shifted window/watermark boundaries for
    * session timezones whose offset is not a slide multiple (e.g. +5:45) —
    * NTZ keeps every boundary a pure function of the stored wall clock,
    * identical to the batch form in any timezone (round-6 advisor
    * finding; StreamingSpec pins a non-UTC session tz). */
  def dedupStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    graft.Tables.normalizeTs(events)
      .withColumn("ts", graft.Det.ntzAsUtcInstant($"ts"))
      .withWatermark("ts", "2 hours")
      .dropDuplicates("user_id", "event_type", "ts")
      .select($"user_id", $"event_type", unix_micros($"ts").as("t_us"))
  }

  /** Windowed deterministic-HLL register file: per tumbling 1h window, the
    * 64-register sketch of the window's distinct user_ids — the streaming
    * approximate-cardinality op ("unique users per hour") where the state
    * per window is m registers, NOT a distinct-user set. Registers are the
    * md5/bit-smear kernel of [[graft.ext.Sketches]], so the whole output
    * hash-matches the DuckDB oracle; max is partial-aggregable, so the
    * sketch merges exactly across batches, partitions, and triggers.
    * Batch form (the graded query); [[windowedHllStream]] is the
    * readStream twin. */
  def windowedHll(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val (bucket, r) = graft.ext.Sketches.bucketAndRho($"user_id".cast("string"))
    events
      .select(window($"ts", "1 hour").as("w"), bucket.as("bucket"), r.as("rho"))
      .groupBy($"w", $"bucket").agg(max($"rho").as("max_rho"))
      .select($"w.start".cast("timestamp_ntz").as("win_start"), $"bucket", $"max_rho")
  }

  /** Streaming twin of [[windowedHll]] (watermark + tz-invariant window,
    * see [[dedupStream]]). Register max-merge is idempotent and
    * commutative — exactly the merge the state store needs. */
  def windowedHllStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val (bucket, r) = graft.ext.Sketches.bucketAndRho($"user_id".cast("string"))
    graft.Tables.normalizeTs(events)
      .withColumn("ts", graft.Det.ntzAsUtcInstant($"ts"))
      .withWatermark("ts", "2 hours")
      .select($"ts", bucket.as("bucket"), r.as("rho"))
      .groupBy(window($"ts", "1 hour").as("w"), $"bucket")
      .agg(max($"rho").as("max_rho"))
      .select(graft.Det.instantAsUtcNtz($"w.start").as("win_start"), $"bucket", $"max_rho")
  }

  /** Per-window drift BIN REGISTER FILE (batch form): per tumbling 1-day
    * window and whole-unit value bin, the conditional counts of the two
    * drift populations ([[graft.ext.Drift.GroupA]]/[[graft.ext.Drift.GroupB]])
    * — the monitoring register a continuously-ingesting pipeline keeps per
    * window. Bin counts are plain conditional sums: map-side-combinable, so
    * the streaming state per window is the BOUNDED bin grain (value range /
    * bin width), not the row count — the same state-size argument as
    * [[windowedHll]]'s registers. The KS statistic ([[windowedKs]]) is a
    * deterministic function of this register file. */
  def windowedDriftBins(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .filter($"event_type".isin(graft.ext.Drift.GroupA, graft.ext.Drift.GroupB))
      .select(window($"ts", "1 day").as("w"),
        floor($"value").cast("long").as("bucket"), $"event_type")
      .groupBy($"w", $"bucket")
      .agg(
        sum(when($"event_type" === graft.ext.Drift.GroupA, 1L).otherwise(0L)).as("ca"),
        sum(when($"event_type" === graft.ext.Drift.GroupB, 1L).otherwise(0L)).as("cb"))
      .select($"w.start".cast("timestamp_ntz").as("win_start"), $"bucket", $"ca", $"cb")
  }

  /** Streaming twin of [[windowedDriftBins]] (watermark + tz-invariant
    * window, see [[dedupStream]]). Conditional-count merge across batches /
    * partitions / triggers is exact addition — register-exact equality with
    * the batch form is pinned in StreamingSpec. */
  def windowedDriftBinsStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    graft.Tables.normalizeTs(events)
      .withColumn("ts", graft.Det.ntzAsUtcInstant($"ts"))
      .withWatermark("ts", "2 hours")
      .filter($"event_type".isin(graft.ext.Drift.GroupA, graft.ext.Drift.GroupB))
      .groupBy(window($"ts", "1 day").as("w"),
        floor($"value").cast("long").as("bucket"))
      .agg(
        sum(when($"event_type" === graft.ext.Drift.GroupA, 1L).otherwise(0L)).as("ca"),
        sum(when($"event_type" === graft.ext.Drift.GroupB, 1L).otherwise(0L)).as("cb"))
      .select(graft.Det.instantAsUtcNtz($"w.start").as("win_start"),
        $"bucket", $"ca", $"cb")
  }

  /** Per-window two-sample KS drift over the [[windowedDriftBins]] register
    * file — [[graft.ext.Drift.ksDrift]]'s exact-integer semantics applied
    * per tumbling window ("did today's click-vs-purchase value gap move?").
    * Cumulative sums and totals are window functions PARTITIONED BY the
    * window start: each partition is the bounded bin grain, so no
    * single-task window exists at any scale. Windows missing one population
    * entirely are dropped (a KS against an empty sample is undefined). */
  def windowedKs(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("win_start")
    windowedDriftBins(events)
      .withColumn("cum_ca", sum($"ca").over(wCum))
      .withColumn("cum_cb", sum($"cb").over(wCum))
      .withColumn("na", sum($"ca").over(wAll))
      .withColumn("nb", sum($"cb").over(wAll))
      .filter($"na" > 0 && $"nb" > 0)
      .withColumn("diff", abs($"cum_ca" * $"nb" - $"cum_cb" * $"na"))
      .groupBy($"win_start")
      .agg(
        first($"na").as("n_a"), first($"nb").as("n_b"),
        max($"diff").as("ks_num"),
        // argmax bin, ties to the smallest bucket (the ksDrift trick)
        (-max(struct($"diff", (-$"bucket").as("nb0"))).getField("nb0")).as("at_bucket"))
      .select($"win_start", $"n_a", $"n_b",
        expr("(ks_num * 1000000) div (n_a * n_b)").as("ks_d_e6"), $"at_bucket")
  }

  /** Per-window PSI over the same [[windowedDriftBins]] register file —
    * [[graft.ext.Drift.psiDrift]]'s Laplace-smoothed, decimal-exact-sum
    * semantics applied per tumbling window: the mass-weighted drift score
    * next to [[windowedKs]]'s max-deviation view, both deterministic
    * functions of one streaming register state. Window functions
    * partitioned by win_start (bounded bin grain per partition).
    * Floating-point `ln()` site #3 of 3 — containment analysis at the
    * single inventory anchor, [[graft.ext.Drift]]'s object Scaladoc. */
  def windowedPsi(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("win_start")
    val g = windowedDriftBins(events)
      .withColumn("na", sum($"ca").over(wAll))
      .withColumn("nb", sum($"cb").over(wAll))
      .withColumn("n_bins", count(lit(1)).over(wAll))
      .filter($"na" > 0 && $"nb" > 0)
    val pa = ($"ca" + 1L).cast("double") / ($"na" + $"n_bins").cast("double")
    val pb = ($"cb" + 1L).cast("double") / ($"nb" + $"n_bins").cast("double")
    g.select($"win_start", $"na", $"nb", $"n_bins",
        round((pa - pb) * log(pa / pb), 6).cast("decimal(18,6)").as("term6"))
      .groupBy($"win_start")
      .agg(first($"na").as("n_a"), first($"nb").as("n_b"),
        first($"n_bins").as("n_bins"),
        sum($"term6").cast("double").as("psi"))
  }

  /** Streaming variant of [[sliding]] with a watermark, for a readStream
    * source (tested via the memory sink): overlapping 1h windows every 30
    * minutes, exact decimal value sums — one input row feeds two window
    * groups, the overlap bookkeeping the state store must get right.
    * Windows + watermark on TIMESTAMP_NTZ (see [[dedupStream]]). */
  def slidingStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    graft.Tables.normalizeTs(events)
      .withColumn("ts", graft.Det.ntzAsUtcInstant($"ts"))
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.Det.dsum($"value").as("sum_value"))
      .select(graft.Det.instantAsUtcNtz($"w.start").as("win_start"),
        $"event_type", $"n", $"sum_value")
  }

  /** Attribution window for [[attributionJoin]]: a purchase matches a click
    * by the same user within this many micros AFTER the click. */
  val AttributionWindowUs = 1800000000L // 30 minutes

  /** Event-correlation (attribution) join — the batch form: every
    * (click, purchase) pair of the same user with the purchase inside
    * [click, click + 30min]. One equi-shuffle on user_id with the time
    * range as a post-join filter: per-user grain is bounded, so no
    * interval-index machinery is needed (the D4 interval join covers the
    * no-equi-key case). Output carries both event ids + the lag. */
  def attributionJoin(events: DataFrame,
                      windowUs: Long = AttributionWindowUs): DataFrame = {
    import events.sparkSession.implicits._
    val e = events.select($"event_id", $"user_id", $"event_type",
      graft.Det.us($"ts").as("t"))
    val c = e.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_event_id"), $"t".as("ct"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_event_id"), $"t".as("pt"))
    c.join(p, Seq("user_id"))
      .filter($"pt" >= $"ct" && $"pt" <= $"ct" + windowUs)
      .select($"user_id", $"click_event_id", $"purchase_event_id",
        ($"pt" - $"ct").as("lag_us"))
  }

  /** STREAM-STREAM inner join form of [[attributionJoin]]: both legs
    * watermarked, the join condition time-bounds each side against the
    * other, so the state store can evict a click once the purchase-side
    * watermark passes click + 30min (and a purchase immediately after its
    * own instant) — the only shape in which an unbounded two-stream join
    * runs forever in bounded state. Late rows beyond a leg's watermark are
    * dropped, as in every watermarked op (StreamingSpec pins both the
    * equality-with-batch and the drop). Event times stay NTZ-derived UTC
    * instants (see [[dedupStream]]). */
  def attributionJoinStream(clicks: DataFrame, purchases: DataFrame,
                            windowUs: Long = AttributionWindowUs): DataFrame = {
    import clicks.sparkSession.implicits._
    val c = graft.Tables.normalizeTs(clicks)
      .select($"event_id".as("click_event_id"), $"user_id".as("c_user_id"),
        graft.Det.ntzAsUtcInstant($"ts").as("cts"))
      .withWatermark("cts", "2 hours")
    val p = graft.Tables.normalizeTs(purchases)
      .select($"event_id".as("purchase_event_id"), $"user_id".as("p_user_id"),
        graft.Det.ntzAsUtcInstant($"ts").as("pts"))
      .withWatermark("pts", "2 hours")
    c.join(p,
        $"c_user_id" === $"p_user_id" &&
          $"pts" >= $"cts" &&
          // MICROSECOND interval: a seconds-truncated form silently
          // shrank the stream window vs the batch twin for windows that
          // are not whole seconds
          $"pts" <= $"cts" + expr(s"INTERVAL $windowUs MICROSECOND"))
      .select($"c_user_id".as("user_id"), $"click_event_id", $"purchase_event_id",
        (unix_micros($"pts") - unix_micros($"cts")).as("lag_us"))
  }

  /** Windowed TOP-K heavy hitters (batch twin): per tumbling 1h window,
    * the k most frequent event types, total rank order (n desc,
    * event_type) — the continuous-dashboard staple. The rank window is
    * PARTITIONED by window start (never a global sort); at 100 TB the
    * per-window key cardinality is the schema-bounded event-type set, so
    * each rank partition is tiny regardless of row count. */
  def topkPerWindow(events: DataFrame, k: Int = 3): DataFrame = {
    import events.sparkSession.implicits._
    rankWindows(events
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".cast("timestamp_ntz").as("win_start"), $"event_type", $"n"),
      k)
  }

  /** Rank stage of the streaming top-k: applied at READ time over the
    * windowed-count table [[tumblingStream]] maintains — counts stream in
    * append mode as the watermark closes each window; the cross-key rank
    * is a query over the sink. That split is the production layout for
    * continuous top-k (aggregate in the stream, rank at serve time): a
    * rank INSIDE the stream would force complete output mode, re-emitting
    * and re-sorting every window ever seen on each trigger — unbounded
    * state and output at fleet scale. StreamingSpec pins
    * stream-then-rank == [[topkPerWindow]]. */
  def rankWindows(counts: DataFrame, k: Int = 3): DataFrame = {
    import counts.sparkSession.implicits._
    counts
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"win_start").orderBy($"n".desc, $"event_type")))
      .filter($"rank" <= k)
      .select($"win_start", $"rank", $"event_type", $"n")
  }

  /** Streaming variant of [[tumbling]] with a watermark, for a readStream
    * source (tested via the memory sink). Windows + watermark on
    * TIMESTAMP_NTZ (see [[dedupStream]]). */
  def tumblingStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    graft.Tables.normalizeTs(events)
      .withColumn("ts", graft.Det.ntzAsUtcInstant($"ts"))
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(graft.Det.instantAsUtcNtz($"w.start").as("win_start"), $"event_type", $"n")
  }

  /** J2/I — INCREMENTAL ingest probe (round 13): the STREAM-STATIC join
    * shape of the nightly dedup ingest — incoming documents arrive as a
    * stream and probe the STANDING corpus LSH index (a static table, the
    * same artifact `j2_incremental_state` persists); one row per verified
    * (incoming, corpus) candidate pair with its exact Jaccard and drop
    * verdict. This is the batch twin; [[incProbeStream]] is the
    * readStream form, pinned row-identical in StreamingSpec.
    *
    * Fully APPEND-mode and STATELESS by construction: candidate dedup (a
    * pair can share a bucket in several bands) is not a stateful
    * `distinct` but a row-local smallest-matching-band WITNESS — a band-b
    * match is emitted iff no earlier band also matches, decidable from
    * the two rows' carried minhash vectors — and the verify is a
    * row-local `array_intersect` over the carried shingle sets. The
    * per-doc best-match reduction is rank-at-serve (the [[topkPerWindow]]
    * convention; `j2_incremental` grades that reduction in batch).
    *
    * 100 TB posture: the static side is the maintained, cap-gated index
    * table; the stream side is shingled/signed row-locally; each
    * micro-batch runs one hash join against the static relation — the
    * canonical stream-static enrichment, no watermark needed because no
    * state is kept. */
  def incProbe(docs: DataFrame, mod: Int = 10,
               bucketCap: Int = graft.ext.Dedup.BucketCap): DataFrame = {
    import docs.sparkSession.implicits._
    val idx = graft.ext.Dedup.corpusProbeIndex(docs.filter($"doc_id" % mod =!= 0),
      bucketCap = bucketCap)
    incProbeJoin(
      graft.ext.Dedup.bandRowsWithSets(docs.filter($"doc_id" % mod === 0)), idx)
  }

  /** Streaming form of [[incProbe]]: `incoming` is a STREAMING documents
    * frame (doc_id, text, ...); `corpusIndex` the static
    * [[graft.ext.Dedup.corpusProbeIndex]] relation. */
  def incProbeStream(incoming: DataFrame, corpusIndex: DataFrame): DataFrame =
    incProbeJoin(graft.ext.Dedup.bandRowsWithSets(incoming), corpusIndex)

  /** J5/I — STREAM-STATIC image ingest probe: incoming docs are decoded and
    * aHashed ROW-LOCALLY ([[graft.ext.Multimodal.aHashLocal]] — the fused
    * single-pass form exists precisely because the distributed hash's
    * pooled-grain groupBy cannot run append-mode), their 16-bit block rows
    * probe the standing cap-gated index, and one codegen'd bit_count(xor)
    * verifies the exact distance per pair — append-mode with ZERO state.
    * Candidate dedup is the row-local smallest-matching-block witness over
    * the carried hashes + the index's gated-block mask (the
    * [[incProbeJoin]] round-14 rule: an earlier block that agrees by value
    * but was cap-gated out never produced an index row, so it must not
    * suppress the later cap-passing hit). Pair-grain output with verdicts;
    * best-match is rank-at-serve (`j5_incremental` grades that reduction
    * in batch). `idx` is the standing [[graft.ext.Multimodal.imgIndex]]
    * and `hashes` the (doc_id, ahash) frame covering the batch carve. */
  def imgProbe(docs: DataFrame, idx: DataFrame, hashes: DataFrame,
               mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    imgProbeJoin(graft.ext.Multimodal.aHashBlockRows(
      hashes.filter($"doc_id" % mod === 0)), idx)
  }

  /** Streaming form of [[imgProbe]]: `incoming` is a STREAMING documents
    * frame; `imgIndex` the static [[graft.ext.Multimodal.imgIndex]]
    * relation (persisted by the image family's state table). */
  def imgProbeStream(incoming: DataFrame, imgIndex: DataFrame): DataFrame =
    imgProbeJoin(graft.ext.Multimodal.aHashBlockRows(
      graft.ext.Multimodal.aHashLocal(
        graft.ext.Multimodal.pngFixture(incoming))), imgIndex)

  /** The shared image probe: equi-join on (blk, val), smallest-matching-
    * block witness dedup (block agreement recomputed row-locally from the
    * two carried hashes; gated phantom blocks excused via the index's
    * `cgated` mask), exact hamming + verdict — identical on batch and
    * streaming incoming block rows. */
  private def imgProbeJoin(incoming: DataFrame, imgIndex: DataFrame): DataFrame = {
    import incoming.sparkSession.implicits._
    val witness = (0 until 4).map { b =>
      val earlierMiss = (0 until b).map { bp =>
        (expr(s"shiftright(ha, ${bp * 16}) & 65535") =!=
          expr(s"shiftright(hb, ${bp * 16}) & 65535")) ||
          element_at($"cgated", bp + 1) === 1L
      }
      earlierMiss.foldLeft($"blk" === b.toLong)(_ && _)
    }.reduce(_ || _)
    incoming.select($"doc_id".as("doc_n"), $"ahash".as("ha"), $"blk", $"val")
      .join(imgIndex, Seq("blk", "val"))
      .filter(witness)
      .select($"doc_n", $"doc_c",
        bit_count($"ha".bitwiseXOR($"hb")).cast("long").as("hamming"))
      .withColumn("verdict",
        when($"hamming" <= graft.ext.Multimodal.AHashHamMaxHamming, "drop")
          .otherwise("keep"))
  }

  /** The shared probe: equi-join on (band, sig), witness dedup, row-local
    * exact-Jaccard verify + verdict — identical on batch and streaming
    * `incoming` band rows. */
  private def incProbeJoin(incoming: DataFrame, corpusIndex: DataFrame): DataFrame = {
    import incoming.sparkSession.implicits._
    val bands = graft.ext.Dedup.Bands
    val rows = graft.ext.Dedup.RowsPerBand
    // emit a matched pair only from its SMALLEST matching band: for every
    // earlier band, at least one of that band's minhashes must differ OR
    // that band's corpus bucket was cap-gated out of the index (round-14
    // advice: a hash-equal earlier band whose bucket the cap removed never
    // produced a join row, so it must not suppress this one — the oracle's
    // per-band cap-gated candidate union emits the pair) — exact dedup of
    // multi-band candidates with zero state
    val witness = (0 until bands).map { b =>
      val earlierMiss = (0 until b).map { bp =>
        (0 until rows).map(r =>
          col(s"h${bp * rows + r}") =!= col(s"ch${bp * rows + r}"))
          .reduce(_ || _) || element_at($"cgated", bp + 1) === 1L
      }
      earlierMiss.foldLeft($"band" === b)(_ && _)
    }.reduce(_ || _)
    incoming.join(corpusIndex, Seq("band", "sig"))
      .filter(witness)
      .select($"doc_id".as("doc_n"), $"doc_c",
        size(array_intersect($"dshings", $"shb")).as("ninter"),
        size($"dshings").as("na"), size($"shb").as("nb"))
      .select($"doc_n", $"doc_c",
        round($"ninter".cast("double") / ($"na" + $"nb" - $"ninter") * 1000000.0)
          .cast("long").as("j_e6"))
      .withColumn("verdict",
        when($"j_e6" >= graft.ext.Dedup.IncrementalDropE6, "drop").otherwise("keep"))
  }

  /** J2/I — SCALABLE-Bloom ingest probe, stream-static form (geometric
    * Almeida construction, round 15): incoming docs' lines probe the
    * SLICED filter with zero state. The per-slice (m_i, k_i) dials vary,
    * so the round-14 k-column join trick no longer applies; instead the
    * standing state is collapsed to the shape a fleet ships anyway —
    * each sealed slice as an immutable PACKED BITMAP (array<long>, m_i
    * bits) with its dials — gathered into ONE broadcast row (the
    * `st_sem_probe` packed-table convention). Membership is then fully
    * ROW-LOCAL: `exists` over the slice array of a `forall` over that
    * slice's k_i md5-head positions tested with the native
    * [[graft.functions.BloomBitTest]] — ∃ slice containing all k_i of
    * its own positions, exactly [[graft.ext.Dedup.bloomScaleProbe]]'s
    * membership, with no stateful aggregation, no watermark, no state
    * store, and O(sum_i k_i) = O(log^2 corpus) hash work per line.
    * Per-(doc, line) bloom/exact/FP verdicts, the `st_bloom` shape. */
  def bloomScaleProbeLines(docs: DataFrame, sliceLines: DataFrame,
                           mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val corpus = graft.ext.Dedup.bloomDocLines(docs.filter($"doc_id" % mod =!= 0))
    bloomScaleJoin(
      graft.ext.Dedup.bloomDocLines(docs.filter($"doc_id" % mod === 0)),
      bloomScaleFilters(sliceLines),
      corpus.select($"line").distinct())
  }

  /** The static ONE-ROW packed-filter relation the sliced stream probe
    * joins: every standing slice as (slice, m, k, bits) with `bits` the
    * slice's m-bit set packed into m/64 longs — built in batch from the
    * standing (line, slice) state via a bounded per-(slice, word)
    * `bit_or` aggregate, total size O(sum_i m_i) bits regardless of
    * corpus size. */
  def bloomScaleFilters(sliceLines: DataFrame,
                        cap0: Long = graft.ext.Dedup.BloomSliceCap0,
                        k0: Int = graft.ext.Dedup.BloomSliceK0): DataFrame = {
    import sliceLines.sparkSession.implicits._
    val slicePos = graft.ext.Dedup.bloomSlicePositions(sliceLines, cap0, k0)
    val words = slicePos
      .select($"slice", shiftright($"p", 6).as("w"),
        expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").as("b"))
      .groupBy($"slice", $"w").agg(expr("bit_or(b)").as("wv"))
    val packed = words.groupBy($"slice")
      .agg(map_from_entries(collect_list(struct($"w", $"wv"))).as("wm"))
      .join(broadcast(graft.ext.Dedup.bloomParamsDf(sliceLines.sparkSession, cap0, k0)
        .select($"slice", $"m", $"k")), Seq("slice"))
      .select($"slice", $"m", $"k",
        expr("transform(sequence(0, greatest(m div 64, 1) - 1), " +
          "w -> coalesce(wm[w], cast(0 as bigint)))").as("bits"))
    packed.agg(sort_array(collect_list(struct($"slice", $"m", $"k", $"bits")))
        .as("filters"))
      .withColumn("one", lit(1))
  }

  /** Streaming form of [[bloomScaleProbeLines]]: `incoming` is a STREAMING
    * documents frame; `filters` / `corpusLines` the static relations. */
  def bloomScaleProbeStream(incoming: DataFrame, filters: DataFrame,
                            corpusLines: DataFrame): DataFrame =
    bloomScaleJoin(graft.ext.Dedup.bloomDocLines(incoming), filters, corpusLines)

  private def bloomScaleJoin(lines: DataFrame, filters: DataFrame,
                             corpusLines: DataFrame): DataFrame = {
    import lines.sparkSession.implicits._
    val member = exists($"filters", f =>
      forall(
        transform(sequence(lit(0), f.getField("k") - 1), j =>
          pmod(graft.functions.Md5Head60(concat(j.cast("string"), lit(":"), $"line")),
            f.getField("m"))),
        p => graft.functions.BloomBitTest(f.getField("bits"), p)))
    lines.withColumn("one", lit(1))
      .join(broadcast(filters), Seq("one"))
      .join(corpusLines.withColumn("ex", lit(1L)), Seq("line"), "left")
      .select($"doc_id", $"line",
        when(member, 1L).otherwise(0L).as("bloom"),
        coalesce($"ex", lit(0L)).as("exact"))
      .withColumn("false_pos",
        when($"bloom" === 1L && $"exact" === 0L, 1L).otherwise(0L))
  }

  /** J7/I — the COMPOSED ingest audit, stream-static form (round-17
    * verdict #5): incoming documents arrive as a stream and run the
    * first-firing-gate attribution of `j7_ingest_audit` against three
    * STATIC standing states in one pass — the exact hash set (one
    * stream-static equi-join at the doc grain), the sliced-Bloom packed
    * filter row (the [[bloomScaleFilters]] broadcast; the per-doc line
    * fraction is a ROW-LOCAL `aggregate` over the doc's line array, no
    * explode, no stateful re-aggregation), and the cap-gated corpus LSH
    * index (the [[incProbeStream]] equi-join with the smallest-matching-
    * band witness). Append-mode with ZERO state.
    *
    * Output grain (the family's rank-at-serve convention — the doc-grain
    * any-candidate reduction is graded in batch by `j7_ingest_audit`):
    * one row per verified (doc, corpus candidate) pair carrying the
    * doc-grain exact/bloom verdicts, PLUS one row per (doc, band) whose
    * bucket matched nothing (doc_c = -1), so a doc every lexical bucket
    * misses still reports its exact/bloom gates. `gate` is the first
    * firing gate in production order, the near-dup leg judged by THIS
    * row's pair.
    *
    * 100 TB posture: the static sides are the maintained state artifacts
    * (hash set, packed O(sum m_i)-bit filter row, cap-gated index
    * table); per micro-batch cost is row-local hashing plus two hash
    * joins — the canonical stream-static enrichment. */
  def ingestProbe(docs: DataFrame, sliceLines: DataFrame,
                  mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val D = graft.ext.Dedup
    val corpus = docs.filter($"doc_id" % mod =!= 0)
    ingestProbeJoin(docs.filter($"doc_id" % mod === 0),
      corpus.select(md5($"text".cast("binary")).as("h")).distinct(),
      bloomScaleFilters(sliceLines),
      D.corpusProbeIndex(corpus))
  }

  /** Streaming form of [[ingestProbe]]: `incoming` is a STREAMING
    * documents frame; `hashes` (h), `filters` (the packed one-row
    * [[bloomScaleFilters]] relation) and `corpusIndex`
    * ([[graft.ext.Dedup.corpusProbeIndex]]) the static states. */
  def ingestProbeStream(incoming: DataFrame, hashes: DataFrame,
                        filters: DataFrame, corpusIndex: DataFrame): DataFrame =
    ingestProbeJoin(incoming, hashes, filters, corpusIndex)

  /** J7/I — the STREAM-STATIC FIVE-gate composed ingest probe: the
    * three-gate [[ingestProbe]] shape widened to every production
    * modality — the SEMANTIC gate computed ROW-LOCALLY per incoming doc
    * ([[graft.ext.Similarity.withSemGateColumns]]: the doc's vector from
    * a stream-static embeddings join, cell assignment over the packed
    * centroid broadcast, best self-excluded kept match via an array_min
    * fold over the cell's PACKED member list — the per-doc argmax that
    * batch computes with a groupBy, with zero stateful aggregation), and
    * the IMAGE-CANONICAL gate one stream-static equi-join against the
    * persisted cluster-label relation. Still append-mode with ZERO
    * state; pair grain with the five-gate first-firing attribution,
    * doc-grain reduction graded in batch by `j7_ingest_audit_mm`. */
  def ingestProbeMm(docs: DataFrame, emb: DataFrame, cents: DataFrame,
                    keptM: DataFrame, imgLabels: DataFrame, sliceLines: DataFrame,
                    mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val D = graft.ext.Dedup
    val corpus = docs.filter($"doc_id" % mod =!= 0)
    ingestProbeJoinMm(docs.filter($"doc_id" % mod === 0),
      corpus.select(md5($"text".cast("binary")).as("h")).distinct(),
      bloomScaleFilters(sliceLines),
      D.corpusProbeIndex(corpus), emb, cents, keptM, imgLabels)
  }

  /** Streaming form of [[ingestProbeMm]]: `incoming` is a STREAMING
    * documents frame; every other relation is the corresponding standing
    * state (embeddings, frozen centroids, kept members, image cluster
    * labels — all static tables). */
  def ingestProbeStreamMm(incoming: DataFrame, hashes: DataFrame,
                          filters: DataFrame, corpusIndex: DataFrame,
                          emb: DataFrame, cents: DataFrame, keptM: DataFrame,
                          imgLabels: DataFrame): DataFrame =
    ingestProbeJoinMm(incoming, hashes, filters, corpusIndex, emb, cents,
      keptM, imgLabels)

  private def ingestProbeJoinMm(docsIn: DataFrame, hashes: DataFrame,
                                filters: DataFrame, corpusIndex: DataFrame,
                                emb: DataFrame, cents: DataFrame,
                                keptM: DataFrame, imgLabels: DataFrame): DataFrame = {
    import docsIn.sparkSession.implicits._
    val docGates: DataFrame => DataFrame = df =>
      graft.ext.Similarity.withSemGateColumns(df, emb, cents, keptM)
        .join(imgLabels.select($"doc_id", $"cluster_id".as("img_cluster"),
          ($"cluster_id" =!= $"doc_id").cast("long").as("img_drop")),
          Seq("doc_id"))
    ingestProbeJoin(docsIn, hashes, filters, corpusIndex, docGates,
      Seq("sem_cell", "sem_match", "sem_cos_e6", "sem_drop",
        "img_cluster", "img_drop"))
  }

  /** @param docGates   decorator appending further DOC-GRAIN gate columns
    *                    to the enriched frame (must stay append-mode-safe:
    *                    stream-static joins and row-local folds only) —
    *                    the five-gate form's semantic/image legs;
    * @param extraCarry  the decorator's column names, carried through the
    *                    band explode and emitted after j_e6; if it
    *                    contains `sem_drop`/`img_drop`, the first-firing
    *                    `gate` attribution extends to the five-gate
    *                    production order. */
  private def ingestProbeJoin(docsIn: DataFrame, hashes: DataFrame,
                              filters: DataFrame,
                              corpusIndex: DataFrame,
                              docGates: DataFrame => DataFrame = identity,
                              extraCarry: Seq[String] = Nil): DataFrame = {
    import docsIn.sparkSession.implicits._
    val D = graft.ext.Dedup
    val w = D.LineTokens
    val bands = D.Bands
    val rows = D.RowsPerBand
    // doc-grain gates, all row-local against broadcast/static state
    val memberLn: Column => Column = ln => exists($"filters", f =>
      forall(
        transform(sequence(lit(0), f.getField("k") - 1), j =>
          pmod(graft.functions.Md5Head60(concat(j.cast("string"), lit(":"), ln)),
            f.getField("m"))),
        p => graft.functions.BloomBitTest(f.getField("bits"), p)))
    val enriched = docsIn
      .select($"doc_id", $"text", md5($"text".cast("binary")).as("h"))
      .join(hashes.withColumn("e", lit(1L)), Seq("h"), "left")
      .withColumn("one", lit(1))
      .join(broadcast(filters), Seq("one"))
      .withColumn("toks", split($"text", " "))
      .withColumn("lines", expr(
        s"array_distinct(transform(sequence(0, (size(toks) - 1) div $w), " +
          s"b -> array_join(slice(toks, b * $w + 1, $w), ' ')))"))
      .withColumn("exact_dup", coalesce($"e", lit(0L)))
      .withColumn("nl", size($"lines").cast("long"))
      .withColumn("nd", aggregate($"lines", lit(0L),
        (acc, ln) => acc + when(memberLn(ln), 1L).otherwise(0L)))
      .withColumn("bloom_dup_frac_e6", expr("(nd * 1000000) div greatest(nl, 1)"))
      .withColumn("bloom_drop",
        ($"bloom_dup_frac_e6" >= D.BloomDropE6).cast("long"))
      .transform(docGates)
    // row-local shingle/sign (the bandRowsWithSets construction, carrying
    // the doc-grain verdict columns; a sub-shingle doc keeps null
    // signatures — it matches no bucket but its band rows survive the
    // left join, so its exact/bloom verdicts still surface)
    val n3 = greatest(size($"toks") - 2, lit(0))
    val shings = coalesce(
      zip_with(
        zip_with(slice($"toks", lit(1), n3), slice($"toks", lit(2), n3),
          (a, b) => concat(a, lit(" "), b)),
        slice($"toks", lit(3), n3),
        (ab, c) => concat(ab, lit(" "), c)),
      typedLit(Seq.empty[String]))
    val sigCols = (0 until bands * rows).map(s =>
      array_min(transform($"dshings", x => D.md5Hash32(s, x))).as(s"h$s"))
    val carry = Seq($"doc_id", $"exact_dup", $"bloom_dup_frac_e6",
      $"bloom_drop", $"dshings") ++ extraCarry.map(col)
    val mh = enriched
      .withColumn("shings", shings)
      .withColumn("dshings", array_distinct(
        transform($"shings", s => graft.functions.Md5Head60(s))))
      .select(carry ++ sigCols: _*)
    val hCols = (0 until bands * rows).map(s => col(s"h$s"))
    val bsCol = explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        struct((0 until rows).map(r => col(s"h${b * rows + r}").as(s"k$r")): _*).as("sig"))
    }: _*)).as("bs")
    val bandRows = mh.select((carry ++ hCols) :+ bsCol: _*)
      .select((carry ++ hCols) :+ $"bs.band".as("band") :+ $"bs.sig".as("sig"): _*)
    // the incProbeJoin witness: emit a pair only from its smallest
    // matching, cap-passing band
    val witness = (0 until bands).map { b =>
      val earlierMiss = (0 until b).map { bp =>
        (0 until rows).map(r =>
          col(s"h${bp * rows + r}") =!= col(s"ch${bp * rows + r}"))
          .reduce(_ || _) || element_at($"cgated", bp + 1) === 1L
      }
      earlierMiss.foldLeft($"band" === b)(_ && _)
    }.reduce(_ || _)
    val jE6 = round(size(array_intersect($"dshings", $"shb")).cast("double") /
      (size($"dshings") + size($"shb") - size(array_intersect($"dshings", $"shb"))) *
      1000000.0).cast("long")
    val baseGate = when($"exact_dup" === 1L, "exact")
      .when($"bloom_drop" === 1L, "bloom")
      .when($"j_e6" >= D.IncrementalDropE6, "near_dup")
    val gate =
      if (extraCarry.contains("sem_drop"))
        baseGate.when($"sem_drop" === 1L, "semantic")
          .when($"img_drop" === 1L, "image").otherwise("pass")
      else baseGate.otherwise("pass")
    bandRows.join(corpusIndex, Seq("band", "sig"), "left")
      .filter($"doc_c".isNull || witness)
      .select(Seq($"doc_id", $"band".cast("long").as("band"),
        $"exact_dup", $"bloom_dup_frac_e6", $"bloom_drop",
        coalesce($"doc_c", lit(-1L)).as("doc_c"),
        coalesce(jE6, lit(0L)).as("j_e6")) ++ extraCarry.map(col): _*)
      .withColumn("gate", gate)
  }

  /** J3/I — SEMANTIC ingest probe, stream-static form (round-13 verdict
    * #2): incoming vectors arrive as a stream and probe the persisted
    * centroid + kept-member STATE TABLES as static frames — one row per
    * (vector, same-cell kept member) candidate with its exact-integer
    * cosine and verdict. Append-mode with ZERO state: cell assignment is
    * a row-local array_min over the packed (bounded, √N-row) centroid
    * table joined on a literal key, candidate scoring one stream-static
    * equi-join on cell id; best-match is rank-at-serve, graded in batch
    * by `j3_semdedup_inc_state`. See
    * [[graft.ext.Similarity.semProbeJoin]] for the full contract. */
  def semProbeStream(incoming: DataFrame, cents: DataFrame,
                     keptM: DataFrame): DataFrame =
    graft.ext.Similarity.semProbeJoin(incoming, cents, keptM)

  /** J2/I — BLOOM ingest probe, stream-static form: incoming documents
    * arrive as a stream, their lines probe the STANDING Bloom position
    * set (a static table bounded by m rows — the artifact a nightly
    * [[graft.ext.Dedup.bloomUpsert]] maintains) plus the exact line set
    * for FP accounting. One output row per distinct (doc, line) with the
    * filter's verdict, the exact verdict, and the false-positive flag.
    *
    * Fully APPEND-mode and STATELESS: the "all k positions set" test is
    * not a stateful aggregation — each line carries its k md5 positions
    * as COLUMNS and runs k stream-static hash joins (k = 3, a constant),
    * so the verdict is row-local within the micro-batch; no watermark,
    * no state store. This is the streaming twin of the doc-grain batch
    * probe (`j2_bloom_probe` grades the per-doc roll-up; here the grain
    * is the pair the filter actually answers). */
  def bloomProbe(docs: DataFrame, mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val corpus = graft.ext.Dedup.bloomDocLines(docs.filter($"doc_id" % mod =!= 0))
    bloomProbeJoin(
      graft.ext.Dedup.bloomDocLines(docs.filter($"doc_id" % mod === 0)),
      graft.ext.Dedup.bloomPositionSet(corpus),
      corpus.select($"line").distinct())
  }

  /** Streaming form of [[bloomProbe]]: `incoming` is a STREAMING
    * documents frame; `positions` / `corpusLines` the static state
    * relations. */
  def bloomProbeStream(incoming: DataFrame, positions: DataFrame,
                       corpusLines: DataFrame): DataFrame =
    bloomProbeJoin(graft.ext.Dedup.bloomDocLines(incoming), positions, corpusLines)

  private def bloomProbeJoin(lines: DataFrame, positions: DataFrame,
                             corpusLines: DataFrame): DataFrame = {
    import lines.sparkSession.implicits._
    val seeds = graft.ext.Dedup.BloomSeeds
    val m = graft.ext.Dedup.BloomBits
    val withPos = seeds.zipWithIndex.foldLeft(lines) { case (df, (sd, i)) =>
      df.withColumn(s"p$i",
        pmod(graft.ext.Dedup.md5Hash32(sd, $"line"), lit(m.toLong)))
    }
    val joined = seeds.indices.foldLeft(withPos) { (df, i) =>
      df.join(positions.select($"p".as(s"p$i"), lit(1L).as(s"hit$i")),
        Seq(s"p$i"), "left")
    }
    joined
      .join(corpusLines.withColumn("ex", lit(1L)), Seq("line"), "left")
      .select($"doc_id", $"line",
        when(seeds.indices.map(i => col(s"hit$i").isNotNull).reduce(_ && _), 1L)
          .otherwise(0L).as("bloom"),
        coalesce($"ex", lit(0L)).as("exact"))
      .withColumn("false_pos",
        when($"bloom" === 1L && $"exact" === 0L, 1L).otherwise(0L))
  }
}
