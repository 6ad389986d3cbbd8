package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.LongDot

/** Native codegen'd expressions vs their interpreted HOF reference forms. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => coalesce(x * y, lit(0L))), lit(0L), (acc, v) => acc + v)

  test("LongDot matches the aggregate(zip_with) reference on random arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // unequal lengths and null elements included — overlap + null-skip semantics
    val rows = Seq.tabulate(200) { i =>
      val n1 = 1 + rnd.nextInt(80)
      val n2 = 1 + rnd.nextInt(80)
      def arr(n: Int) = Seq.tabulate(n)(j =>
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextLong() % 1000000L))
      (i.toLong, arr(n1), arr(n2))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select($"id", LongDot($"a", $"b").as("native"), hofDot($"a", $"b").as("ref"))
    assert(out.filter($"native" =!= $"ref").count() == 0L)
    assert(out.filter($"native".isNull).count() == 0L)
  }

  test("LongDot null/empty semantics") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1L, 2L, 3L)), Some(Seq(4L, 5L))), // overlap: 1*4 + 2*5
      (2L, Some(Seq.empty[Long]), Some(Seq(1L))),     // empty overlap -> 0
      (3L, None, Some(Seq(1L)))                       // null array -> null
    ).toDF("id", "a", "b")
    val got = df.select($"id", LongDot($"a", $"b").as("d")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(got(1L) == 14L && got(2L) == 0L && got(3L) == null)
  }

  test("Md5Head32 is bit-identical to the composed conv(substring(md5)) form") {
    import spark.implicits._
    val df = (Seq("", "a", "hello world", "3:some shingle text", "é中文")
      ++ Seq.tabulate(100)(i => s"doc $i body"))
      .toDF("s")
    val out = df.select(
      graft.functions.Md5Head32($"s").as("native"),
      conv(substring(md5($"s".cast("binary")), 1, 8), 16, 10).cast("long").as("ref"))
    assert(out.filter($"native" =!= $"ref" || $"native".isNull).count() == 0L)
  }

  test("GraftFunctions registers long_dot / md5_head32 for SQL text") {
    // newSession: fresh sessionState (registry) over the shared context —
    // registration must not leak into the suite session
    val s2 = spark.newSession()
    graft.functions.GraftFunctions.register(s2)
    val r = s2.sql(
      "SELECT long_dot(array(1L,2L,3L), array(4L,5L)) AS d, md5_head32('x') AS h").collect()(0)
    assert(r.getLong(0) == 14L)
    val ref = s2.sql(
      "SELECT conv(substring(md5(cast('x' AS binary)), 1, 8), 16, 10) AS h").collect()(0)
    assert(r.getLong(1) == ref.getString(0).toLong)
    // the extensions injector exposes the same builders
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT long_dot(array(1L), array(1L))").collect()
    }
  }

  test("cents conversion: decimal(18,2) cast rounds like the oracle where double round does not") {
    import spark.implicits._
    // st_session_fmg's cents derivation (StreamOps.sessionsViaFlatMapGroups)
    // must use cast(decimal(18,2)) * 100, matching DuckDB's CAST semantics.
    // Discriminating inputs are those whose double*100 lands strictly BELOW
    // the .5 boundary (1.005*100 = 100.4999... -> double-round 100) while
    // the decimal cast re-renders the shortest decimal repr ("1.005") and
    // rounds HALF_UP to 1.01 -> 101. (0.615*100 is exactly 61.5 in binary,
    // so both paths agree there — it is NOT a discriminator.)
    val df = Seq(1.005, 1.015, 8.165, 0.615, 2.675, 0.1).toDF("value")
    val got = df.select(
        $"value",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("dec_cents"),
        round($"value" * 100d).cast("long").as("dbl_cents"))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1.005) == ((101L, 100L)), "1.005: decimal and double must disagree")
    assert(got(1.015) == ((102L, 101L)), "1.015: decimal and double must disagree")
    assert(got(8.165) == ((817L, 816L)), "8.165: decimal and double must disagree")
    assert(got(0.615) == ((62L, 62L)))
    assert(got(2.675) == ((268L, 268L)))
    assert(got(0.1) == ((10L, 10L)))
    // and the operator itself carries the decimal form: a 1-event session on
    // value=1.005 must surface 101 cents (the double path would emit 100)
    val e = Seq((1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0), 1.005))
      .toDF("user_id", "ts", "value")
    val s = graft.streaming.StreamOps.sessionsViaFlatMapGroups(e).collect()
    assert(s.length == 1 && s(0).sum_value_e2 == 101L,
      s"fmg session cents must be decimal-derived, got ${s.toSeq}")
  }

  test("LongDot stays inside whole-stage codegen") {
    import spark.implicits._
    // range source so the project isn't constant-folded into a LocalTableScan
    val df = spark.range(10)
      .select(array($"id", $"id" + 1).as("a"), array($"id" * 2, $"id").as("b"))
      .select(LongDot($"a", $"b").as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // the project with long_dot must sit under a WholeStageCodegen span
    assert(plan.contains("*(1)") && plan.contains("long_dot"), s"no codegen span in:\n$plan")
    assert(df.agg(sum($"d")).collect()(0).getLong(0) ==
      (0L until 10L).map(i => i * i * 2 + (i + 1) * i).sum)
  }

  test("zorder2 interleaves exactly: de-interleaving recovers both inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    val rows = (1 to 64).map(_ => (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val got = rows.toDF("x", "y")
      .select($"x", $"y", relational.Layout.zorder2($"x", $"y").as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) =>
      var dx = 0L; var dy = 0L
      for (b <- 0 until 10) {
        dx |= ((z >> (2 * b)) & 1L) << b
        dy |= ((z >> (2 * b + 1)) & 1L) << b
      }
      assert(dx == x && dy == y, s"de-interleave($z) = ($dx, $dy) != ($x, $y)")
    }
    // locality sanity: the all-zero point maps to 0, the all-ones to 2^20-1
    val edge = Seq((0L, 0L), (1023L, 1023L)).toDF("x", "y")
      .select(relational.Layout.zorder2($"x", $"y")).as[Long].collect().toSeq
    assert(edge == Seq(0L, (1L << 20) - 1))
  }
}
