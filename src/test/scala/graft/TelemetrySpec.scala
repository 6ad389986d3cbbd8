package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite

/** The telemetry contract: jobs are charged to the span of the thread
  * that started them (concurrent and nested spans apart, memo builds to
  * their node), a span restores the outer span when its body throws, the
  * driver gap is the wall its jobs do not cover, each execution's plan
  * node counts are charged with its jobs, and a span counts the codegen
  * compilations made while it runs. */
class TelemetrySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private def sc = spark.sparkContext

  /** `body` with a recorder attached, and the rows it recorded. */
  private def recorded[A](body: => A): Seq[Telemetry.Row] = {
    // events of earlier tests' jobs reach no recorder of this one
    org.apache.spark.sql.graftbridge.Bus.drain(sc)
    val telemetry = Telemetry.attach(spark)
    try { body; telemetry.rows() } finally telemetry.close()
  }

  private def row(rows: Seq[Telemetry.Row], name: String): Telemetry.Row = {
    val named = rows.filter(_.name == name)
    assert(named.size == 1, s"expected one row named $name, got ${named.size}")
    named.head
  }

  private def oneJob(): Unit = sc.parallelize(1 to 100, 2).count()

  test("concurrent spans are charged by thread: span i reads exactly i+1 jobs") {
    val n = 4
    // every span is open before the first job and stays open until the
    // last one ends, so only the thread tells the spans' jobs apart
    val opened, finished = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    val rows = try recorded {
      (0 until n).map(i => pool.submit(new Callable[Unit] {
        def call(): Unit = Telemetry.span(spark, s"thread-$i") {
          opened.await()
          (0 to i).foreach(_ => oneJob())
          finished.await()
        }
      })).foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    (0 until n).foreach { i =>
      val r = row(rows, s"thread-$i")
      assert(r.jobs == i + 1 && r.tasks == 2 * (i + 1), s"thread-$i: ${r.json()}")
    }
  }

  test("a memo build is its own row; a later access from another span charges nothing") {
    val memo = new SessionMemo(_.sparkContext.isStopped)
    def node: Long = memo.of[Long](spark, "d", "telemetry_node", _ => ()) {
      oneJob(); sc.parallelize(1 to 10, 1).count()
    }
    val rows = recorded {
      Telemetry.span(spark, "builder") { node; oneJob() }
      Telemetry.span(spark, "reader")(node)
    }
    val built = row(rows, "memo:telemetry_node")
    assert(built.jobs == 2 && built.parent.contains("builder"), built.json())
    val builder = row(rows, "builder")
    assert(builder.jobs == 1 && builder.selfS < builder.wallS, builder.json())
    assert(row(rows, "reader").jobs == 0, row(rows, "reader").json())
  }

  test("a throwing body restores the outer span") {
    val rows = recorded {
      Telemetry.span(spark, "outer") {
        val outer = sc.getLocalProperty(Telemetry.SpanProperty)
        intercept[IllegalStateException] {
          Telemetry.span(spark, "inner") { oneJob(); throw new IllegalStateException("inner failed") }
        }
        assert(sc.getLocalProperty(Telemetry.SpanProperty) == outer)
        oneJob()
      }
      assert(sc.getLocalProperty(Telemetry.SpanProperty) == null)
    }
    assert(row(rows, "inner").error.contains("inner failed"))
    assert(row(rows, "inner").jobs == 1 && row(rows, "outer").jobs == 1)
  }

  test("the driver gap is the span's wall not covered by its jobs") {
    val rows = recorded(Telemetry.span(spark, "sleepy") { Thread.sleep(300); oneJob() })
    val r = row(rows, "sleepy")
    assert(r.jobs == 1 && r.driverS >= 0.3 && r.driverS <= r.wallS, r.json())
  }

  test("compiles counts the span's codegen compilations; a plan compiled before counts none") {
    // a literal no earlier plan holds makes new generated code
    val df = spark.range(0, 100).selectExpr(s"id * ${System.nanoTime()} AS x").filter("x % 3 = 0")
    val rows = recorded {
      Telemetry.span(spark, "first")(df.count())
      Telemetry.span(spark, "again")(df.count())
      Telemetry.span(spark, "driver only")(Thread.sleep(10))
    }
    val first = row(rows, "first")
    assert(first.compiles >= 1, first.json())
    assert(row(rows, "again").compiles == 0, row(rows, "again").json())
    assert(row(rows, "driver only").compiles == 0 && first.json().contains("\"compiles\":"))
  }

  test("plan counts and the broadcast job are charged to the span (AQE off)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "false")
    val big = spark.range(0, 1000).toDF("k")
    val small = spark.range(0, 100).toDF("k")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val rows = recorded {
      Telemetry.span(spark, "hinted")(big.join(broadcast(small), "k").count())
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try Telemetry.span(spark, "shuffled")(big.join(small, "k").count())
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
    val hinted = row(rows, "hinted")
    assert(hinted.plan.bhj == 1 && hinted.plan.smj == 0 && hinted.executions == 1, hinted.json())
    // one job collects the broadcast side on a broadcast thread, one counts
    assert(hinted.jobs == 2, hinted.json())
    val shuffled = row(rows, "shuffled")
    assert(shuffled.plan.smj == 1 && shuffled.plan.bhj == 0, shuffled.json())
    assert(!rows.exists(_.name == "(no span)"), rows.map(_.json()).mkString("\n"))
  }
}
