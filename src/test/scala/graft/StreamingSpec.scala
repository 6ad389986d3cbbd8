package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Structured Streaming path: the tumbling aggregate over a parquet
  * readStream (memory sink, processAllAvailable) must agree with the batch
  * form of the same transform. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  /** The standing sliced-Bloom (line, slice) state of the corpus carve
    * (doc_id % 10 != 0) — the input of every sliced-filter probe here. */
  private def sliceLinesOf(docs: org.apache.spark.sql.DataFrame) =
    ext.Dedup.bloomSliceLines(ext.Dedup.bloomDocLines(docs.filter(col("doc_id") % 10 =!= 0)))

  test("island-detection sessions equal session_window sessions") {
    val e = Tables.events(spark, s"${Fixtures.testdata}/sf0.001")
    val a = StreamOps.sessions(e).collect().map(_.toString).sorted.toSeq
    val b = StreamOps.sessionsViaSessionWindow(e).collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("mapGroupsWithState running counts match batch aggregation (streaming)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val batch = Tables.events(spark, dir)
    val expected = batch.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100d).cast("long")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    SparkSuite.withTempDir("graft_state") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged)
      val q = StreamOps.runningUserCounts(stream)
        .writeStream.outputMode("update")
        .format("memory").queryName("graft_state_test")
        .start()
      try {
        q.processAllAvailable()
        // latest state per user = final running totals
        val got = spark.sql(
          """SELECT user_id, max_by(n, n) AS n, max_by(sum_value_e2, n) AS s
            |FROM graft_state_test GROUP BY user_id""".stripMargin)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(got == expected)
      } finally q.stop()
    }
  }

  test("streaming tumbling counts equal batch tumbling counts") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val batch = Tables.events(spark, dir)
    val expected = StreamOps.tumbling(batch)
      .select($"win_start", $"event_type", $"n")
      .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap

    // readStream needs a directory source: stage the single parquet file
    SparkSuite.withTempDir("graft_stream") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged)
        .transform(Tables.normalizeTs)
      val q = StreamOps.tumblingStream(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_stream_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.sql("SELECT win_start, event_type, n FROM graft_stream_test")
          .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
        assert(got == expected)
      } finally q.stop()
    }
  }

  test("stream-then-rank top-k equals batch windowed top-k") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val expected = StreamOps.topkPerWindow(Tables.events(spark, dir))
      .collect().map(r => (r.get(0).toString, r.getInt(1)) ->
        (r.getString(2), r.getLong(3))).toMap

    SparkSuite.withTempDir("graft_topk") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged)
        .transform(Tables.normalizeTs)
      // aggregate in the stream, rank over the sink at serve time — the
      // production continuous-top-k split (rankWindows scaladoc)
      val q = StreamOps.tumblingStream(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_topk_test")
        .start()
      try {
        q.processAllAvailable()
        val got = StreamOps.rankWindows(spark.table("graft_topk_test"))
          .collect().map(r => (r.get(0).toString, r.getInt(1)) ->
            (r.getString(2), r.getLong(3))).toMap
        assert(got == expected)
      } finally q.stop()
    }
  }

  test("streaming windowed HLL registers equal batch registers (sketch state merge)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val expected = StreamOps.windowedHll(Tables.events(spark, dir))
      .collect().map(r => (r.get(0).toString, r.getLong(1)) -> r.getLong(2)).toMap

    SparkSuite.withTempDir("graft_hll") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged)
      val q = StreamOps.windowedHllStream(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_hll_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.sql("SELECT win_start, bucket, max_rho FROM graft_hll_test")
          .collect().map(r => (r.get(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
        assert(got == expected)
      } finally q.stop()
    }
  }

  test("streaming drift bin registers equal batch registers (KS state merge)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val expected = StreamOps.windowedDriftBins(Tables.events(spark, dir))
      .collect().map(r => (r.get(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap

    SparkSuite.withTempDir("graft_drift") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged)
      val q = StreamOps.windowedDriftBinsStream(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_drift_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.sql("SELECT win_start, bucket, ca, cb FROM graft_drift_test")
          .collect().map(r => (r.get(0).toString, r.getLong(1)) ->
            (r.getLong(2), r.getLong(3))).toMap
        assert(got == expected)
        // and the graded KS view is a pure function of those registers
        assert(StreamOps.windowedKs(Tables.events(spark, dir)).count() > 0)
      } finally q.stop()
    }
  }

  test("streaming sliding counts+sums equal batch sliding (overlapping windows)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val batch = Tables.events(spark, dir)
    val expected = StreamOps.sliding(batch)
      .collect().map(_.toString).sorted.toSeq

    SparkSuite.withTempDir("graft_slide") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged)
        .transform(Tables.normalizeTs)
      val q = StreamOps.slidingStream(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName("graft_slide_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_slide_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected)
      } finally q.stop()
    }
  }

  test("streaming watermarked dedup equals batch distinct") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val expected = StreamOps.dedup(Tables.events(spark, dir))
      .collect().map(_.toString).sorted.toSeq

    SparkSuite.withTempDir("graft_dedup") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged)
        .transform(Tables.normalizeTs)
      val q = StreamOps.dedupStream(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_dedup_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_dedup_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected)
      } finally q.stop()
    }
  }

  test("streaming windows are timezone-invariant (non-slide-multiple offset)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    // batch sliding windows the NTZ column directly — timezone-free by
    // construction. The streaming form must agree even when the session
    // timezone's offset is NOT a multiple of the 30-min slide (+05:45
    // shifted boundaries by 15 min before the ntzAsUtcInstant conversion).
    val expected = StreamOps.sliding(Tables.events(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    SparkSuite.withTempDir("graft_tz") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val priorTz = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
      try {
        val stream = spark.readStream
          .schema(spark.read.parquet(s"$dir/events.parquet").schema)
          .parquet(staged)
          .transform(Tables.normalizeTs)
        val q = StreamOps.slidingStream(stream)
          .writeStream.outputMode("complete")
          .format("memory").queryName("graft_tz_test")
          .start()
        try {
          q.processAllAvailable()
          val got = spark.table("graft_tz_test").collect().map(_.toString).sorted.toSeq
          assert(got == expected,
            "streaming sliding under Asia/Kathmandu must equal the timezone-free batch form")
        } finally q.stop()
      } finally spark.conf.set("spark.sql.session.timeZone", priorTz)
    }
  }

  test("late-beyond-watermark events: dedup drops them, sessions never emit them") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("ts", TimestampNTZType)))
    def batch(rows: (Long, String, Double, String)*) =
      rows.toDF("user_id", "event_type", "value", "s")
        .select($"user_id", $"event_type", $"value",
          to_timestamp_ntz($"s").as("ts"))
    def writeBatch(dir: String, n: Int, rows: (Long, String, Double, String)*): Unit =
      batch(rows: _*).coalesce(1).write.parquet(s"$dir/b$n")

    // --- dedup: a duplicate arriving after the 2h watermark horizon is
    // DROPPED (not re-emitted even though its dedup state has expired)
    SparkSuite.withTempDir("graft_late_dedup") { dDir =>
      writeBatch(dDir, 1,
        (1L, "a", 1.0, "2026-01-01 00:00:00"),
        (1L, "a", 1.0, "2026-01-01 12:00:00")) // watermark after batch: 10:00
      val dStream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dDir/b*")
      val dq = StreamOps.dedupStream(dStream)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_late_dedup")
        .start()
      try {
        dq.processAllAvailable()
        // late duplicate of the expired 00:00 key + one fresh row
        writeBatch(dDir, 2,
          (1L, "a", 1.0, "2026-01-01 00:00:00"),  // LATE: < watermark 10:00
          (2L, "b", 1.0, "2026-01-01 12:30:00"))
        dq.processAllAvailable()
        val got = spark.table("graft_late_dedup")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        val us = (h: Int, m: Int) =>
          java.time.LocalDateTime.of(2026, 1, 1, h, m)
            .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
        assert(got == Set((1L, "a", us(0, 0)), (1L, "a", us(12, 0)), (2L, "b", us(12, 30))),
          s"late duplicate must be dropped, fresh row emitted: $got")
      } finally dq.stop()

      // --- flatMapGroupsWithState sessions: a closed session is emitted via
      // event-time timeout once the watermark passes; an event arriving
      // beyond the watermark never produces a session
      SparkSuite.withTempDir("graft_late_sess") { sDir =>
        writeBatch(sDir, 1,
          (1L, "a", 1.0, "2026-01-01 00:00:00"),
          (1L, "a", 2.0, "2026-01-01 00:05:00")) // one open session [00:00, 00:15)
        val sStream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$sDir/b*")
        val sq = StreamOps.sessionsViaFlatMapGroups(sStream)
          .writeStream.outputMode("append")
          .format("memory").queryName("graft_late_sess")
          .start()
        try {
          sq.processAllAvailable()
          // advance the watermark to 10:00 (12:00 - 2h)
          writeBatch(sDir, 2, (2L, "b", 1.0, "2026-01-01 12:00:00"))
          sq.processAllAvailable()
          // user 3's event is far below the 10:00 watermark -> filtered before
          // the stateful operator (its session must never appear); user 1's
          // session times out (close 00:15 < watermark) in this batch
          writeBatch(sDir, 3, (3L, "c", 1.0, "2026-01-01 01:00:00"))
          sq.processAllAvailable()
          val got = spark.table("graft_late_sess")
            .as[graft.streaming.SessionOut].collect().toSet
          val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
            .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
          assert(got == Set(graft.streaming.SessionOut(
            1L, t0, t0 + 15L * 60 * 1000000L, 2L, 300L)),
            s"exactly user 1's timed-out session; late user 3 dropped, user 2 still open: $got")
        } finally sq.stop()
      }
    }
  }

  test("stream-stream attribution join equals batch; late rows are dropped") {
    import spark.implicits._
    // --- equality: both legs stream the same parquet, join output must
    // equal the batch attribution join (sf0.01: 23 matched pairs)
    val dir = s"${Fixtures.testdata}/sf0.01"
    val expected = StreamOps.attributionJoin(Tables.events(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    SparkSuite.withTempDir("graft_ssj") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val schema0 = spark.read.parquet(s"$dir/events.parquet").schema
      def leg(tpe: String) = spark.readStream.schema(schema0).parquet(staged)
        .transform(Tables.normalizeTs).filter($"event_type" === tpe)
      val q = StreamOps.attributionJoinStream(leg("click"), leg("purchase"))
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_ssj_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_ssj_test").collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"stream-stream join must equal batch join")
      } finally q.stop()

      // --- late drop: a purchase below its leg's watermark must not match
      // an in-window click whose state is still live
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("ts", TimestampNTZType)))
      def writeBatch(d: String, n: Int, rows: (Long, Long, String, String)*): Unit =
        rows.toDF("event_id", "user_id", "event_type", "s")
          .select($"event_id", $"user_id", $"event_type", lit(1.0).as("value"),
            to_timestamp_ntz($"s").as("ts"))
          .coalesce(1).write.parquet(s"$d/b$n")
      SparkSuite.withTempDir("graft_ssj_c") { cDir =>
        SparkSuite.withTempDir("graft_ssj_p") { pDir =>
          writeBatch(cDir, 1, (1L, 1L, "click", "2026-01-01 00:00:00"))
          writeBatch(pDir, 1, (2L, 1L, "purchase", "2026-01-01 00:10:00"))
          def lateLeg(d: String) = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$d/b*")
          val lq = StreamOps.attributionJoinStream(lateLeg(cDir), lateLeg(pDir))
            .writeStream.outputMode("append")
            .format("memory").queryName("graft_ssj_late")
            .start()
          try {
            lq.processAllAvailable() // emits (1,2) match; watermarks at 00:00/00:10
            // advance both watermarks to ~10:00 (12:00 - 2h)
            writeBatch(cDir, 2, (3L, 9L, "click", "2026-01-01 12:00:00"))
            writeBatch(pDir, 2, (4L, 9L, "purchase", "2026-01-01 12:00:00"))
            lq.processAllAvailable()
            // LATE purchase at 00:05 (< watermark 10:00): in-window for click 1,
            // but must be dropped by the purchase leg
            writeBatch(pDir, 3, (5L, 1L, "purchase", "2026-01-01 00:05:00"))
            lq.processAllAvailable()
            val got = spark.table("graft_ssj_late")
              .select($"click_event_id", $"purchase_event_id")
              .as[(Long, Long)].collect().toSet
            assert(got == Set((1L, 2L), (3L, 4L)),
              s"late purchase 5 must be dropped, matches 1-2 and 3-4 kept: $got")
          } finally lq.stop()
        }
      }
    }
  }

  test("flatMapGroupsWithState sessions equal batch island-detection sessions") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val batch = Tables.events(spark, dir)
    // batch sessions() emits sum_value as an exact 2-decimal double —
    // compare in cents, the typed operator's exact representation
    val expected = StreamOps.sessions(batch)
      .select($"user_id", graft.Det.us($"sess_start").as("s"),
        graft.Det.us($"sess_end").as("e"), $"n",
        round($"sum_value" * 100d).cast("long").as("cents"))
      .collect().map(_.toString).sorted.toSeq
    val got = StreamOps.sessionsViaFlatMapGroups(batch)
      .toDF("user_id", "s", "e", "n", "cents")
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  test("flatMapGroupsWithState sessions on a stream emit only closed, consistent sessions") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val batchSessions = StreamOps.sessionsViaFlatMapGroups(Tables.events(spark, dir))
      .collect().map(s => (s.user_id, s.sess_start_us) -> s).toMap

    SparkSuite.withTempDir("graft_fmg") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$staged/events.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(staged)
        .transform(Tables.normalizeTs)
      val q = StreamOps.sessionsViaFlatMapGroups(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_fmg_test")
        .start()
      try {
        q.processAllAvailable()
        // a single microbatch closes sessions whose successor event is in the
        // same batch; open sessions wait on the event-time timeout (watermark
        // driven) — everything emitted must match the batch result exactly
        val got = spark.table("graft_fmg_test").as[graft.streaming.SessionOut].collect()
        assert(got.nonEmpty, "stream emitted no closed sessions")
        got.foreach { s =>
          val b = batchSessions.get((s.user_id, s.sess_start_us))
          assert(b.contains(s), s"stream session $s disagrees with batch ${b.orNull}")
        }
      } finally q.stop()
    }
  }

  test("stream-static incremental probe equals the batch probe (append mode, zero state)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val docs = Tables.documents(spark, dir)
    val expected = StreamOps.incProbe(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the probe must find candidate pairs on the harness corpus")
    // static side: the standing corpus index (batch-built, as a nightly
    // job maintains it); stream side: the incoming carve arriving as files
    val idx = ext.Dedup.corpusProbeIndex(docs.filter($"doc_id" % 10 =!= 0))
    SparkSuite.withTempDir("graft_incprobe") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$staged/documents.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/documents.parquet").schema)
        .parquet(staged)
        .filter($"doc_id" % 10 === 0)
      val q = StreamOps.incProbeStream(stream, idx)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_incprobe_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_incprobe_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"stream ${got.size} rows vs batch ${expected.size}")
      } finally q.stop()
    }
  }

  test("stream-static FIVE-gate composed probe equals the batch probe (append mode, zero state)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val Seq(cents, keptM) = ext.Similarity.semStateTables(spark, dir, emb)
    val labels = ext.Dedup.ccGroupsConverged(
      docs.select($"doc_id".as("v")),
      ext.Multimodal.aHashHammingPairs(
          ext.Multimodal.aHashLocal(ext.Multimodal.pngFixture(docs)))
        .select($"doc_a", $"doc_b"))
    val sl = sliceLinesOf(docs)
    val expected = StreamOps.ingestProbeMm(docs, emb, cents, keptM, labels, sl)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the five-gate composed probe must emit rows")
    assert(expected.exists(_.contains("semantic")) ||
      expected.exists(_.contains("image")) ||
      StreamOps.ingestProbeMm(docs, emb, cents, keptM, labels, sl)
        .filter($"sem_drop" === 1L || $"img_drop" === 1L).count() > 0,
      "at least one doc must exercise a non-lexical gate on the harness corpus")
    // every batch doc surfaces (pair rows or candidate-less band rows)
    val docsCovered = StreamOps.ingestProbeMm(docs, emb, cents, keptM, labels, sl)
      .select($"doc_id").distinct().count()
    assert(docsCovered == docs.filter($"doc_id" % 10 === 0).count(),
      "a doc with no lexical candidates must still report its five gates")
    // static sides: the standing states a nightly job maintains
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val hashes = corpus.select(md5($"text".cast("binary")).as("h")).distinct()
    val filters = StreamOps.bloomScaleFilters(sl)
    val idx = ext.Dedup.corpusProbeIndex(corpus)
    SparkSuite.withTempDir("graft_stingestmm") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$staged/documents.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/documents.parquet").schema)
        .parquet(staged)
        .filter($"doc_id" % 10 === 0)
      val q = StreamOps.ingestProbeStreamMm(stream, hashes, filters, idx,
          emb, cents, keptM, labels)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_stingestmm_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_stingestmm_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"stream ${got.size} rows vs batch ${expected.size}")
      } finally q.stop()
    }
  }

  test("stream-static image probe equals the batch probe (append mode, zero state)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val docs = Tables.documents(spark, dir)
    // static side: the standing aHash index (as the state table persists
    // it); stream side: the incoming carve arriving as files, decoded and
    // hashed row-locally per micro-batch
    val idx = ext.Multimodal.imgIndex(ext.Multimodal.aHashLocal(
      ext.Multimodal.pngFixture(docs.filter($"doc_id" % 10 =!= 0))))
    val expected = StreamOps.imgProbe(docs, idx,
        ext.Multimodal.aHashLocal(ext.Multimodal.pngFixture(docs)))
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the image probe must find candidate pairs on the harness corpus")
    SparkSuite.withTempDir("graft_imgprobe") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$staged/documents.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/documents.parquet").schema)
        .parquet(staged)
        .filter($"doc_id" % 10 === 0)
      val q = StreamOps.imgProbeStream(stream, idx)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_imgprobe_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_imgprobe_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"stream ${got.size} rows vs batch ${expected.size}")
      } finally q.stop()
    }
  }

  test("stream-static composed ingest audit equals the batch probe (append mode, zero state)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val docs = Tables.documents(spark, dir)
    val sl = sliceLinesOf(docs)
    val expected = StreamOps.ingestProbe(docs, sl)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the composed probe must emit rows")
    // every batch doc surfaces (pair rows or candidate-less band rows)
    val docsCovered = StreamOps.ingestProbe(docs, sl)
      .select($"doc_id").distinct().count()
    assert(docsCovered == docs.filter($"doc_id" % 10 === 0).count(),
      "a doc with no lexical candidates must still report its gates")
    // static sides: the standing states a nightly job maintains
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val hashes = corpus.select(md5($"text".cast("binary")).as("h")).distinct()
    val filters = StreamOps.bloomScaleFilters(sl)
    val idx = ext.Dedup.corpusProbeIndex(corpus)
    SparkSuite.withTempDir("graft_stingest") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$staged/documents.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/documents.parquet").schema)
        .parquet(staged)
        .filter($"doc_id" % 10 === 0)
      val q = StreamOps.ingestProbeStream(stream, hashes, filters, idx)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_stingest_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_stingest_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"stream ${got.size} rows vs batch ${expected.size}")
      } finally q.stop()
    }
  }

  test("stream-static sliced-bloom probe equals the batch probe (append mode, zero state)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val docs = Tables.documents(spark, dir)
    val sl = sliceLinesOf(docs)
    val expected = StreamOps.bloomScaleProbeLines(docs, sl)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the sliced probe must emit line verdicts")
    // the batch form must also agree with the doc-grain graded rollup
    val perDoc = StreamOps.bloomScaleProbeLines(docs, sl)
      .groupBy($"doc_id")
      .agg(sum($"bloom").as("nb"), sum($"exact").as("ne"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val graded = ext.Dedup.bloomScaleProbe(docs, ext.Dedup.bloomSlicePositions(sl))
      .select($"doc_id", $"n_bloom_dup", $"n_exact_dup")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(perDoc == graded, "line-grain rollup diverged from the graded doc grain")
    val corpus = ext.Dedup.bloomDocLines(docs.filter($"doc_id" % 10 =!= 0))
    val filters = StreamOps.bloomScaleFilters(sl)
    val corpusLines = corpus.select($"line").distinct()
    SparkSuite.withTempDir("graft_stbscale") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$staged/documents.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/documents.parquet").schema)
        .parquet(staged)
        .filter($"doc_id" % 10 === 0)
      val q = StreamOps.bloomScaleProbeStream(stream, filters, corpusLines)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_stbscale_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_stbscale_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"stream ${got.size} rows vs batch ${expected.size}")
      } finally q.stop()
    }
  }

  test("stream-static semantic probe equals the batch probe (append mode, zero state)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val expected = ext.Similarity.semProbeBatch(spark, dir, emb)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the probe must find same-cell candidates on the harness corpus")
    // static side: the persisted state tables (the artifacts the nightly
    // j3 upsert maintains); stream side: the incoming carve as files
    val Seq(cents, keptM) = ext.Similarity.semStateTables(spark, dir, emb)
    val cutoff = emb.agg(expr("(max(vec_id) + 1) * 90 div 100")).head.getLong(0)
    SparkSuite.withTempDir("graft_semprobe") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
        java.nio.file.Paths.get(s"$staged/embeddings.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/embeddings.parquet").schema)
        .parquet(staged)
        .filter($"vec_id" >= cutoff)
      val q = StreamOps.semProbeStream(stream, cents, keptM)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_semprobe_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_semprobe_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"stream ${got.size} rows vs batch ${expected.size}")
      } finally q.stop()
      // rank-at-serve closure: the pair grain's top-1 per vector (cos DESC,
      // mid ASC) must reproduce j3_semdedup_inc_state's best match exactly
      val served = ext.Similarity.semProbeBatch(spark, dir, emb)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"vec_id").orderBy($"cos_sim_e6".desc, $"mid")))
        .filter($"rn" === 1)
        .select($"vec_id", $"mid", $"cos_sim_e6")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val state = ext.Similarity.semDedupIncrementalState(spark, dir, emb)
        .filter($"best_match" =!= -1L)
        .select($"vec_id", $"best_match", $"best_cos_e6")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(state.nonEmpty && served == state,
        s"rank-at-serve over the pair grain diverged from the batch best-match (${served.size} vs ${state.size})")
    }
  }

  test("inc-probe witness: a cap-gated earlier band does not suppress a later match") {
    import spark.implicits._
    // Fixture (md5-searched; hashes shown are the 4 minhash seeds 0..3):
    //   core trigram "alpha beta g1038" hashes LOW on all 4 seeds, so each
    //   doc's band signatures are the core's unless its suffix shingle
    //   "beta g1038 wNNNN" hashes lower.
    //   A=w0000 (incoming) and B=w0001 (corpus) keep the core signature in
    //   BOTH bands; C=w0005 and D=w0006 (corpus) keep band 0 but flip
    //   band 1 (to two DIFFERENT sigs). With bucketCap=2 the band-0 corpus
    //   bucket {B,C,D} (count 3) is gated OUT of the index while B's
    //   band-1 bucket (count 1) passes — so the (A,B) pair exists ONLY via
    //   band 1, and its band-0 minhashes still all match. The round-13
    //   hash-only witness suppressed exactly this pair; the oracle's
    //   cap-gated per-band candidate union emits it.
    val docs = Seq(
      (10L, "alpha beta g1038 w0000"), // incoming (doc_id % 10 == 0)
      (1L, "alpha beta g1038 w0001"),  // corpus: matches A in band 0 AND 1
      (2L, "alpha beta g1038 w0005"),  // corpus: band 0 only
      (3L, "alpha beta g1038 w0006")   // corpus: band 0 only (different band-1 sig from C)
    ).toDF("doc_id", "text")
    val got = StreamOps.incProbe(docs, mod = 10, bucketCap = 2)
      .select($"doc_n", $"doc_c", $"j_e6", $"verdict").collect()
    assert(got.length == 1, s"expected exactly the band-1 pair, got ${got.mkString(";")}")
    val r = got.head
    assert(r.getLong(0) == 10L && r.getLong(1) == 1L,
      s"expected pair (10, 1), got (${r.getLong(0)}, ${r.getLong(1)})")
    // Jaccard({core, beta+w0000}, {core, beta+w0001}) = 1/3
    assert(r.getLong(2) == 333333L && r.getString(3) == "keep", s"unexpected verify: $r")
    // and with the cap admitting the band-0 bucket, the SAME pair is
    // emitted from band 0 instead — still exactly once
    val unGated = StreamOps.incProbe(docs, mod = 10, bucketCap = 3)
      .select($"doc_n", $"doc_c").collect()
    assert(unGated.count(x => x.getLong(0) == 10L && x.getLong(1) == 1L) == 1,
      s"ungated probe must emit (10,1) exactly once: ${unGated.mkString(";")}")
  }

  test("stream-static bloom probe equals the batch probe (append mode, zero state)") {
    import spark.implicits._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val docs = Tables.documents(spark, dir)
    val expected = StreamOps.bloomProbe(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the probe must emit line verdicts on the harness corpus")
    // static side: the standing position set + exact line set (the
    // artifacts a nightly bloomUpsert maintains); stream side: the
    // incoming carve arriving as files
    val corpus = ext.Dedup.bloomDocLines(docs.filter($"doc_id" % 10 =!= 0))
    val positions = ext.Dedup.bloomPositionSet(corpus)
    val corpusLines = corpus.select($"line").distinct()
    SparkSuite.withTempDir("graft_stbloom") { staged =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$staged/documents.parquet"))
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$dir/documents.parquet").schema)
        .parquet(staged)
        .filter($"doc_id" % 10 === 0)
      val q = StreamOps.bloomProbeStream(stream, positions, corpusLines)
        .writeStream.outputMode("append")
        .format("memory").queryName("graft_stbloom_test")
        .start()
      try {
        q.processAllAvailable()
        val got = spark.table("graft_stbloom_test")
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected, s"stream ${got.size} rows vs batch ${expected.size}")
      } finally q.stop()
    }
  }
}
