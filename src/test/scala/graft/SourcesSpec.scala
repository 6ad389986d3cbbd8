package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{EventLogCsv, LogSchema}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("A3 csv.gz sink roundtrips through the A1 source") {
    import spark.implicits._
    SparkSuite.withTempDir("graft_csv") { base =>
      val out = base + "/log"
      val df = Seq(
        ("Case1", "A", "2024-01-01 10:00:00", "2024-01-01 11:00:00", "r1"),
        ("Case2", "B", "2024-01-02 10:00:00.123456", "2024-01-02 11:30:00", null))
        .toDF("case_id", "Activity", "start_time", "end_time", "Resource")
      EventLogCsv.writeCsvGz(df, out)
      val back = EventLogCsv.read(spark, out, LogSchema())
      assert(back.count() == 2L)
      val r = back.filter($"activity" === "B").collect()(0)
      assert(r.getAs[String]("resource") == "NOT_SET") // null fill
      assert(r.getAs[Long]("start_us") % 1000000L == 123456L) // us precision kept
      // event ids are file-order monotonic (ordering-only contract: distinct
      // and increasing with row position; values are partition-encoded)
      val ids = back.select("event_id").as[Long].collect().toSeq
      assert(ids.distinct.length == 2)
    }
  }

  test("harness interface contract: every table carries the columns/types the engine consumes") {
    // The round-5 events.ts encoding change broke 36 queries with cryptic
    // per-query analysis errors. This pins the whole harness interface in
    // ONE place: when the driver regenerates testdata with a different
    // shape, this test names the drift directly. Types are the POST-LOADER
    // dtypes (Tables.events normalizes ts), so any accepted physical
    // encoding passes; genuinely new encodings fail here first.
    import org.apache.spark.sql.types._
    val dir = s"${Fixtures.testdata}/sf0.001"
    val required: Map[String, Map[String, DataType]] = Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType),
      "part" -> Map("p_partkey" -> LongType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderdate" -> TimestampNTZType, "o_totalprice" -> DoubleType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
        "l_shipdate" -> TimestampNTZType, "l_returnflag" -> StringType),
      "events" -> Map("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType),
      "embeddings" -> Map("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType)))
    val drift = required.toSeq.sortBy(_._1).flatMap { case (t, cols) =>
      val loaded = (if (t == "events") Tables.events(spark, dir)
                    else Tables.load(spark, dir, t)).schema
      val have = loaded.fields.map(f => f.name -> f.dataType).toMap
      cols.flatMap { case (c, dt) =>
        have.get(c) match {
          case None => Some(s"$t.$c MISSING (have: ${have.keys.toSeq.sorted.mkString(",")})")
          case Some(got) if got != dt => Some(s"$t.$c is $got, engine expects $dt")
          case _ => None
        }
      }
    }
    assert(drift.isEmpty,
      s"harness interface drift — fix the loaders/queries for:\n  ${drift.mkString("\n  ")}")
  }

  test("events loader: all three historical ts encodings yield identical micros") {
    import spark.implicits._
    // the harness has already changed the events.ts physical encoding once
    // (TIMESTAMP(NANOS) -> TIMESTAMP(MICROS) between rounds 4 and 5); this
    // pins the loader contract across every encoding it may ship under
    val microsUtc = Seq(
      1704103200123456L, // 2024-01-01T10:00:00.123456Z
      1704189600999999L, // 2024-01-02T10:00:00.999999Z
      0L)                // epoch
    // (a) legacy TIMESTAMP(NANOS): Spark cannot write it — craft the file with
    // parquet-mr directly, adding sub-microsecond noise the loader must truncate
    SparkSuite.withTempDir("graft_enc") { root =>
      val nanosDir = s"$root/nanos"
      locally {
        import org.apache.parquet.schema.MessageTypeParser
        import org.apache.parquet.example.data.simple.SimpleGroupFactory
        import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
        val schema = MessageTypeParser.parseMessageType(
          "message events { optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
        val conf = new org.apache.hadoop.conf.Configuration()
        GroupWriteSupport.setSchema(schema, conf)
        val w = ExampleParquetWriter.builder(
            new org.apache.hadoop.fs.Path(s"$nanosDir/events.parquet"))
          .withConf(conf).withType(schema).build()
        val gf = new SimpleGroupFactory(schema)
        microsUtc.zipWithIndex.foreach { case (us, i) =>
          val g = gf.newGroup()
          g.add("event_id", i.toLong)
          g.add("ts", us * 1000L + 789L) // ns, with sub-us residue to truncate
          w.write(g)
        }
        w.close()
      }

      // (b) MICROS isAdjustedToUTC=false: what Spark writes for TIMESTAMP_NTZ
      // (the current harness generation)
      val ntzDir = s"$root/ntz"
      microsUtc.zipWithIndex.toDF("us", "event_id")
        .select($"event_id".cast("long"),
          expr("convert_timezone('UTC', cast(timestamp_micros(us) as timestamp_ntz))").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

      // (c) MICROS isAdjustedToUTC=true: what Spark writes for TIMESTAMP when
      // outputTimestampType=TIMESTAMP_MICROS (instant semantics)
      val utcDir = s"$root/utc"
      val prevOut = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try microsUtc.zipWithIndex.toDF("us", "event_id")
        .select($"event_id".cast("long"), timestamp_micros($"us").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$utcDir/events.parquet")
      finally prevOut.foreach(spark.conf.set("spark.sql.parquet.outputTimestampType", _))

      // collect the NTZ values as LocalDateTime and reduce to epoch micros in
      // the test itself — session-timezone-proof on the assertion side too
      def loadedMicros(dir: String): Map[Long, Long] =
        Tables.events(spark, dir)
          .select($"event_id", $"ts")
          .collect().map { r =>
            val t = r.getAs[java.time.LocalDateTime]("ts")
            r.getLong(0) ->
              (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L)
          }.toMap

      val expected = microsUtc.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap
      assert(loadedMicros(nanosDir) == expected, "nanos-as-long encoding")
      assert(loadedMicros(ntzDir) == expected, "MICROS-NTZ encoding")
      assert(loadedMicros(utcDir) == expected, "MICROS-UTC encoding")

      // the instant (isAdjustedToUTC=true) path must be session-timezone
      // invariant — a bare NTZ cast would shift by the session tz
      val prevTz = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      try assert(loadedMicros(utcDir) == expected, "MICROS-UTC under non-UTC session tz")
      finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    }
  }

  test("EP1 sharded sink (numFiles=0, the 100-TB mode) re-reads identical to the single-file artifact") {
    // SPARK_GRAFT_NUM_FILES=0 keeps the plan's partitioning — no coalesce, so
    // every upstream task writes its own shard. The artifact must be
    // content-identical (as a row multiset; shard order is not a contract)
    // to the default single-file write. The claim does not depend on the
    // log, so it runs on the repo-generated CSV twin of the harness events
    // log, and also on the reference Production log wherever that exists.
    val reference = java.nio.file.Paths.get(s"${Fixtures.reference}/logs/Production.csv.gz")
    val logs = sources.CsvQueries.eventsCsv(spark, s"${Fixtures.testdata}/sf0.001") +:
      (if (java.nio.file.Files.isRegularFile(reference)) Seq(reference.toString) else Nil)
    for (path <- logs) {
      val log = EventLogCsv.read(spark, path)
      val view = graft.pm.Ep1.wtLogView(graft.pm.Ep1.analyze(log)).persist()
      try {
        SparkSuite.withTempDir("graft_ep1_shard") { base =>
          EventLogCsv.writeCsvGz(view, s"$base/one", numFiles = 1)
          EventLogCsv.writeCsvGz(view.repartition(4), s"$base/sharded", numFiles = 0)
          val parts = new java.io.File(s"$base/sharded").listFiles()
            .count(_.getName.endsWith(".csv.gz"))
          assert(parts >= 2, s"numFiles=0 should keep multiple shards, found $parts")
          def rows(dir: String): Seq[String] = {
            val df = spark.read.option("header", "true").csv(dir)
            df.collect().map(_.toString).sorted.toSeq
          }
          val a = rows(s"$base/one")
          val b = rows(s"$base/sharded")
          assert(a.size == b.size, s"row count drift: ${a.size} vs ${b.size}")
          assert(a == b, "sharded artifact content differs from single-file artifact")
        }
      } finally view.unpersist()
    }
  }

  test("sharded sink: numFiles > 1 writes that many part files, same rows back") {
    import spark.implicits._
    SparkSuite.withTempDir("graft_csv_sharded") { base =>
      val out = base + "/log"
      val df = spark.range(0L, 100L).select(
        concat(lit("Case"), $"id").as("case_id"), lit("A").as("Activity"),
        lit("2024-01-01 10:00:00").as("start_time"),
        lit("2024-01-01 11:00:00").as("end_time"), lit("r1").as("Resource"))
      EventLogCsv.writeCsvGz(df, out, numFiles = 4)
      val parts = new java.io.File(out).listFiles().count(_.getName.endsWith(".csv.gz"))
      assert(parts == 4, s"expected 4 shards, found $parts")
      val back = EventLogCsv.read(spark, out, LogSchema())
      assert(back.count() == 100L)
      assert(back.select("case_str").distinct().count() == 100L)
    }
  }

  test("CSV header read on the driver gives Spark's own header schema, or defers to it") {
    import spark.implicits._
    SparkSuite.withTempDir("graft_csv_header") { base =>
      def sparks(path: String) = spark.read.option("header", "true").csv(path).schema
      def gz(path: String, text: String): Unit = {
        val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(path))
        try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
      }
      val rows = "\n\ncase_id,Activity,start_time,end_time,Resource,case_id\nC1,A,2024-01-01 10:00:00,2024-01-01 11:00:00,r1,x\n"
      // a BOM-prefixed gzip file behind blank lines, with a duplicate column name
      gz(s"$base/bom.csv.gz", "\uFEFF" + rows)
      // a directory as writeCsvGz leaves it: one part file beside hidden files
      val df = Seq(("C1", "A", "2024-01-01 10:00:00")).toDF("case_id", "Activity", "start_time")
      EventLogCsv.writeCsvGz(df, s"$base/dir")
      for (path <- Seq(s"$base/bom.csv.gz", s"$base/dir")) {
        val got = EventLogCsv.headerSchema(spark, path)
        assert(got.isDefined, s"no driver-side header for $path")
        assert(got.get == sparks(path), s"header schema differs from Spark's for $path")
      }
      // several files, a subdirectory, a glob, a missing path: Spark reads the header
      Seq("two", "nested/k=1").foreach(d => new java.io.File(s"$base/$d").mkdirs())
      gz(s"$base/two/a.csv.gz", rows)
      gz(s"$base/two/b.csv.gz", "x,y\n1,2\n")
      gz(s"$base/nested/k=1/a.csv.gz", rows)
      for (path <- Seq(s"$base/two", s"$base/nested", s"$base/two/*.csv.gz", s"$base/missing"))
        assert(EventLogCsv.headerSchema(spark, path).isEmpty, s"driver-side header for $path")
    }
  }

  test("A11 compaction: 8 files/day bin-pack to the ceil(rows/target) bound, content intact") {
    import spark.implicits._
    val d = s"${Fixtures.testdata}/sf0.001"
    val rows = sources.SchemaQueries.queries("a11_compact")(spark, d).collect()
    assert(rows.length == 30, "one row per day partition")
    assert(rows.forall(_.getBoolean(3)), "every partition within the bin-pack bound")
    // pin the exact manifests: the fragmented layout carries 8 files per
    // day; every harness day holds < 4096 rows, so OPTIMIZE packs to ONE
    val before = sources.SchemaQueries.parquetFilesPerDay(
      sources.SchemaQueries.stagingDir("graft_a11_frag", d))
    val after = sources.SchemaQueries.parquetFilesPerDay(
      sources.SchemaQueries.stagingDir("graft_a11_compact", d))
    // (a round-robin task holding zero rows of a sparse sf0.001 day writes
    // no file for it, so a day can carry slightly fewer than 8)
    assert(before.size == 30 && before.values.forall(n => n >= 6L && n <= 8L),
      s"fragmented layout must carry ~8 files/day: $before")
    assert(after.size == 30 && after.values.forall(_ == 1L),
      s"compacted layout must carry 1 file/day: $after")
    // content: per-day row counts survive the rewrite
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.events(spark, d).count())
  }
}
