package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rules.{Cond, Ripper, Rule}

class RulesSpec extends AnyFunSuite {
  test("Ripper recovers a single-threshold concept") {
    // outcome = 1 iff x <= 5
    val rows = (0 until 100).map { i =>
      val x = (i % 20).toDouble
      (Array(x, (i % 7).toDouble), if (x <= 5) 1 else 0)
    }.toArray
    val rs = Ripper.fit(rows, Array("x", "noise")).get
    assert(rs.confidence == 1.0)
    assert(rs.support > 0.25)
    assert(rs.rules.exists(_.conds.exists(c => c.feature == "x" && c.isLeq && c.threshold == 5.0)))
  }

  test("Ripper recovers a conjunction") {
    // outcome = 1 iff x <= 5 and y >= 3
    val rows = (0 until 200).map { i =>
      val x = (i % 10).toDouble; val y = (i / 10 % 6).toDouble
      (Array(x, y), if (x <= 5 && y >= 3) 1 else 0)
    }.toArray
    val rs = Ripper.fit(rows, Array("x", "y")).get
    assert(rs.confidence == 1.0)
    val preds = rows.map { case (r, _) => rs.rules.exists(_.matches(r, Map("x" -> 0, "y" -> 1))) }
    assert(preds.zip(rows).forall { case (p, (_, yy)) => p == (yy == 1) })
  }

  test("Ripper returns None when no rule reaches min support") {
    val rows = (0 until 100).map(i => (Array(i.toDouble % 2), i % 50 match {
      case 0 => 1
      case _ => 0
    })).toArray
    assert(Ripper.fit(rows, Array("x")).isEmpty)
  }

  test("ActivationRulesText renders blocks, no-rule notice, and skip notices") {
    lazy val spark = SparkSuite.spark
    import spark.implicits._
    val featNames = Ripper.featCols
    def row(grp: String, outcome: Int, numQueue: Double): (String, Int, Double, Double, Double, Double, Double, Double, Double, Double, Double, Double) =
      (grp, outcome, 0d, numQueue, 0d, 0d, 0d, 0d, 0d, 0d, 0d, 0d)
    // learnable group: outcome == 1 iff num_queue >= 8 (80 rows)
    val learnable = (0 until 80).map(i => row("A", if (i % 10 >= 8) 1 else 0, (i % 10).toDouble))
    // one-outcome group (40 rows, all negative)
    val oneOutcome = (0 until 40).map(_ => row("B", 0, 1d))
    // undersized group
    val tiny = (0 until 5).map(_ => row("C,D", 1, 1d))
    val df = (learnable ++ oneOutcome ++ tiny)
      .toDF(("activities" +: "outcome" +: featNames.toSeq): _*)
    val txt = graft.rules.ActivationRulesText.render(df)
    assert(txt.contains("Not extracting rules from batch ('C', 'D') due to low size: 5"))
    assert(txt.contains("Not extracting rules from batch ('B',) due to only one outcome in training!"))
    assert(txt.contains("Batch: ('A',):"))
    assert(txt.contains("# Observations: 80"))
    assert(txt.contains("num_queue=>8.0"))
    assert(txt.contains("Confidence: 1.00"))
  }

  test("RuleSet compiles to a scoring Column (H2)") {
    lazy val spark = SparkSuite.spark
    import spark.implicits._
    val rs = graft.rules.RuleSet(List(Rule(List(Cond("v", isLeq = true, 5.0)))), 4, 1.0, 0.5)
    val scored = Seq(1.0, 6.0, 5.0).toDF("v").withColumn("hit", rs.toColumn).collect()
    assert(scored.map(_.getBoolean(1)).toSeq == Seq(true, false, true))
  }

  test("maxFitRows cap: oversized groups downsample deterministically, fit still runs") {
    lazy val spark = SparkSuite.spark
    import spark.implicits._
    val featNames = Ripper.featCols
    // 200-row learnable group: outcome == 1 iff num_queue >= 8
    val rows = (0 until 200).map { i =>
      ("G", if (i % 10 >= 8) 1 else 0, 0d, (i % 10).toDouble, 0d, 0d, 0d, 0d, 0d, 0d, 0d, 0d)
    }
    val df = rows.toDF(("activities" +: "outcome" +: featNames.toSeq): _*)
    def run() = graft.rules.RuleQueries
      .rulesDf(spark, df, "activities", maxFitRows = 100)
      .collect().map(_.toSeq).toSeq
    val a = run()
    assert(a.nonEmpty && a.head(1) == 100L, s"capped num_obs should be 100: $a")
    assert(a == run(), "capped fit must be deterministic across runs")
    // uncapped control still sees all 200 rows
    val full = graft.rules.RuleQueries.rulesDf(spark, df, "activities").collect()
    assert(full.head.getLong(1) == 200L)
  }

  test("negative-event knobs: kReady spaced instants and kEnabled samples (config.py:80-81)") {
    lazy val spark = SparkSuite.spark
    import spark.implicits._
    // one batch of 4 cases: enables 100/200/300/400, all start at 1000 —
    // inst_last_en = 400, inst_start = 1000
    val disc = (1 to 4).map(i =>
        (10L, "Parallel", i.toLong, "A", "r0", 1000L, 2000L, i * 100L))
      .toDF("batch_id", "batch_type", "case_id", "activity", "resource",
        "start_us", "end_us", "enabled_us")
    val feats = graft.rules.Features.featuresTable(disc, kReady = 3, kEnabled = 2)
    val inst = feats.select($"instant_us", $"src").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    // pd.date_range(400, 1000, periods=3+2)[1:-1] = 550/700/850
    assert(inst.filter(_._2 == 1).map(_._1).toSet == Set(550L, 700L, 850L))
    assert(inst.count(_._2 == 2) == 2)
    assert(inst.filter(_._2 == 2).forall(p => Set(100L, 200L, 300L, 400L)(p._1)))
    assert(inst.filter(_._2 == 0).map(_._1).toSeq == Seq(1000L))
    graft.Pinned.releaseFrame(feats)
    graft.Pinned.release(spark)
  }
}
