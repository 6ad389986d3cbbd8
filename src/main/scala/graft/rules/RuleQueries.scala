package graft.rules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pm.{BatchDiscovery, EnabledTime, EventLogOps}

/** EP3 queries: the feature table (oracle-checked, the heavy lifting) and
  * the RIPPER rule induction (driver-side, rows-only check — rule text has
  * no SQL equivalent; its determinism is covered by ScalaTest). */
object RuleQueries {
  type Q = (SparkSession, String) => DataFrame

  private def disc(s: SparkSession, d: String): DataFrame =
    graft.pm.PmQueries.disc(s, d)

  /** ar_features and ar_rules share the feature table: one session memo
    * (featuresTable's output is already an eagerly-staged leaf). */
  private def feats(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo(s, d, "ar_features")(Features.featuresTable(disc(s, d)))

  /** The three ActivationRulesMode groupings (reference config.py:7-10),
    * as (mode name, Spark group column, DuckDB group expression). `grp` for
    * by_type is materialized on the feature frame by [[scoreFrame]]. */
  private val Modes: Seq[(String, String, String)] = Seq(
    ("", "activities", "activities"),
    ("_by_activity", "firing_activity", "firing_activity"),
    ("_by_type", "grp", "activities || '|' || batch_type"))

  // per-mode last fit — concurrent map, NOT a read-modify-write on a plain
  // Map: Verify runs the three scoring queries concurrently and a lost
  // update silently downgrades a mode's gate row to rows-only.
  private val lastFits =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Option[RuleSet]]]()

  /** Fitted rulesets per (session, sfDir, mode) — memoized so the scoring
    * query and the dynamically generated oracle SQL (dumped by Verify AFTER
    * the queries ran) see the same fit. Gate-passed groups whose fit found
    * no surviving ruleset stay in the map as None (reference: empty rules
    * dict, activation_rules.py:240) — their predicate scores as FALSE, so
    * the scoring surface exists at every scale, not only when a rule
    * happens to clear min-support. A fit holds no blocks, so evicting it
    * releases nothing. */
  private def fitted(s: SparkSession, d: String, groupCol: String): Map[String, Option[RuleSet]] = {
    val f = graft.SessionMemo.of[Map[String, Option[RuleSet]]](s, d, s"ar_fit_$groupCol", _ => ())(
      Ripper.fitPerGroupAll(scoreFrame(s, d, groupCol), groupCol))
    lastFits.put(groupCol, f)
    f
  }

  /** Feature frame with the mode's group column present. */
  private def scoreFrame(s: SparkSession, d: String, groupCol: String): DataFrame = {
    import s.implicits._
    if (groupCol == "grp")
      feats(s, d).withColumn("grp", concat_ws("|", $"activities", $"batch_type"))
    else feats(s, d)
  }

  val queries: Map[String, Q] = Map(
    "ar_features" -> ((s, d) => feats(s, d)),

    "ar_rules" -> ((s, d) => rulesDf(s, feats(s, d), "activities")),

    // H1/H2 oracle-checkable surface: re-SCORE the induced rulesets over the
    // feature table distributed (RuleSet.toColumn), with num_obs /
    // confidence / support in exact integer arithmetic. The DuckDB oracle
    // rebuilds the feature pipeline independently and evaluates the SAME
    // predicates (RuleSet.toSql) — so a fit or scoring defect breaks the
    // hash match (reference scoring semantics: activation_rules.py:203-238).
    // One scoring query per ActivationRulesMode (round 5: the by_activity
    // and by_type fits get the same score-level DuckDB coverage).
    "ar_rule_scores" -> ((s, d) => ruleScores(s, d, "activities")),
    "ar_rule_scores_by_activity" -> ((s, d) => ruleScores(s, d, "firing_activity")),
    "ar_rule_scores_by_type" -> ((s, d) => ruleScores(s, d, "grp")),

    // H3 — the reference's other ActivationRulesMode groupings
    // (config.py:7-10): per firing activity / per (activities, type).
    "ar_rules_by_activity" -> ((s, d) => rulesDf(s, feats(s, d), "firing_activity")),
    "ar_rules_by_type" -> ((s, d) => rulesDf(s, scoreFrame(s, d, "grp"), "grp"))
  )

  /** Distributed rule induction: one mapGroups task per group, fit runs on
    * the executor holding the group (groups are proportional to batch
    * instances, far below event grain — but there can be MANY groups; the
    * round-1 driver-side sequential loop was the bench's #2 cost center).
    * fit is row-order-insensitive, so results are deterministic.
    *
    * `maxFitRows` is the 100-TB guard for the one unbounded per-group
    * materialization in the engine: a group larger than the cap is
    * downsampled to exactly `maxFitRows` rows by a per-row deterministic
    * rank (Det.pseudoRand over the feature tuple — seeded, so the same
    * input always keeps the same rows, and the DuckDB oracle could apply
    * the identical predicate). Default keeps every row — the reference fits
    * on the full group, and the gate queries must hash-match it. */
  private[graft] def rulesDf(s: SparkSession, features: DataFrame, groupCol: String,
                             maxFitRows: Int = Int.MaxValue): DataFrame = {
    import s.implicits._
    val featCols = Ripper.featCols
    val keyed = features
      .select(col(groupCol) +: col("outcome").cast("int") +:
        featCols.map(c => col(c).cast("double")): _*)
    val capped =
      if (maxFitRows == Int.MaxValue) keyed
      else {
        val rk = graft.Det.pseudoRand(
          abs(hash(featCols.map(col) :+ col("outcome"): _*)).cast("long"))
        keyed.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(groupCol)).orderBy(rk +: featCols.map(col): _*)))
          .filter(col("rn") <= maxFitRows).drop("rn")
      }
    capped
      .groupByKey(_.getString(0))
      .mapGroups { (key, it) =>
        val data = it.map { r =>
          (Array.tabulate(featCols.length)(i => r.getDouble(i + 2)), r.getInt(1))
        }.toArray
        if (data.length <= 30 || data.map(_._2).distinct.length < 2)
          (key, -1L, 0L, 0L, "") // gate-fail: reference only prints a notice
        else Ripper.fit(data, featCols) match {
          case Some(r) => (key, r.numObs,
            math.round(r.confidence * 1000000d), math.round(r.support * 1000000d), r.render)
          // no surviving ruleset: the reference still records the group with
          // an empty dict (activation_rules.py:240) — keep the row
          case None => (key, data.length.toLong, 0L, 0L, "")
        }
      }
      .toDF("group_key", "num_obs", "confidence_e6", "support_e6", "rules")
      .filter($"num_obs" >= 0)
  }

  /** Distributed re-scoring of the fitted rulesets: one pass over the
    * feature table, per-group predicate via a chained `when`, exact counts,
    * integer-division e6 ratios (identical in DuckDB's `//`). */
  private def ruleScores(s: SparkSession, d: String, groupCol: String): DataFrame =
    scoreWithFits(scoreFrame(s, d, groupCol), groupCol, fitted(s, d, groupCol))

  /** The scoring pass over an EXPLICIT feature frame + fit map — shared by
    * the graded queries (memoized session fit) and the scale probe (fresh
    * fit over an inflated feature frame). */
  private[graft] def scoreWithFits(frame: DataFrame, groupCol: String,
                                   f: Map[String, Option[RuleSet]]): DataFrame = {
    import frame.sparkSession.implicits._
    val g = col(groupCol)
    val pred = f.toSeq.sortBy(_._1).foldLeft(lit(null).cast("boolean")) {
      case (acc, (k, rs)) =>
        when(g === k, rs.map(_.toColumn).getOrElse(lit(false))).otherwise(acc)
    }
    frame
      .filter(g.isin(f.keys.toSeq: _*))
      .withColumn("m", pred)
      .groupBy(g)
      .agg(count(lit(1)).as("num_obs"),
        sum(when($"m" && $"outcome" === 1, 1L).otherwise(0L)).as("tp"),
        sum(when($"m", 1L).otherwise(0L)).as("pp"))
      .select(g.as("group_key"), $"num_obs",
        expr("(tp * 1000000) div nullif(pp, 0)").as("confidence_e6"),
        expr("(tp * 1000000) div nullif(num_obs, 0)").as("support_e6"))
  }

  /** Fit + score over an explicit feature frame (scale-probe entry — no
    * session/dataset cache, no oracle registration). */
  private[graft] def scoresForFeatures(features: DataFrame,
                                       groupCol: String = "activities"): DataFrame =
    scoreWithFits(features, groupCol, Ripper.fitPerGroupAll(features, groupCol))

  /** ar_features oracle: extends the PM CTE pipeline with the instant
    * generation + subset-feature computation (mirrors Features stage by
    * stage; see that file for the semantics notes). Split into the CTE
    * chain and the final SELECT so ar_rule_scores can wrap the SELECT as
    * one more CTE. */
  def featuresOracleCtes: String =
    s"""inst2 AS (SELECT batch_id, min(case_start) AS inst_start,
      |  min(case_enabled) AS inst_first_en, max(case_enabled) AS inst_last_en FROM bcase GROUP BY 1),
      |meta AS (SELECT batch_id, min(batch_type) AS batch_type, min(resource) AS resource FROM bev GROUP BY 1),
      |pos AS (SELECT batch_id, inst_start AS instant, 0 AS src, 1 AS outcome FROM inst2),
      |neg1 AS (SELECT DISTINCT batch_id, instant, 1 AS src, 0 AS outcome FROM (
      |  SELECT batch_id,
      |    inst_last_en + (g.i * (inst_start - inst_last_en)) // ${graft.pm.PmConfig.ReadyNegEvents + 1} AS instant,
      |    inst_start
      |  FROM inst2, LATERAL (SELECT unnest(generate_series(1, ${graft.pm.PmConfig.ReadyNegEvents})) AS i) g) z
      |  WHERE instant < inst_start),
      |neg2 AS (SELECT batch_id, instant, 2 AS src, 0 AS outcome FROM (
      |  SELECT b.batch_id, b.case_enabled AS instant,
      |    row_number() OVER (PARTITION BY b.batch_id
      |      ORDER BY (((b.case_id + b.batch_id) % 1000000007) * 2654435761) % 1000000007, b.case_id) AS rn
      |  FROM bcase b JOIN inst2 i ON b.batch_id = i.batch_id AND b.case_enabled < i.inst_start) z
      |  WHERE rn <= ${graft.pm.PmConfig.EnabledNegEvents}),
      |instants AS (SELECT * FROM pos UNION ALL SELECT * FROM neg1 UNION ALL SELECT * FROM neg2),
      |casefirst AS (SELECT case_id, min(start_us) AS case_first_start FROM log GROUP BY 1),
      |subs AS (
      |  SELECT n.batch_id, n.instant, n.src, n.outcome,
      |    count(*) AS num_queue, max(b.case_enabled) AS last_en, min(b.case_enabled) AS first_en,
      |    min(cf.case_first_start) AS min_case_first
      |  FROM instants n
      |  JOIN bcase b ON b.batch_id = n.batch_id AND b.case_enabled <= n.instant
      |  JOIN casefirst cf ON cf.case_id = b.case_id
      |  GROUP BY 1, 2, 3, 4),
      |subev AS (
      |  SELECT n.batch_id, n.instant, n.src, e.activity, e.start_us, e.enabled_us
      |  FROM instants n
      |  JOIN bcase b ON b.batch_id = n.batch_id AND b.case_enabled <= n.instant
      |  JOIN bev e ON e.batch_id = b.batch_id AND e.case_id = b.case_id),
      |firing AS (SELECT batch_id, instant, src, activity AS firing_activity FROM (
      |  SELECT *, row_number() OVER (PARTITION BY batch_id, instant, src
      |    ORDER BY start_us, enabled_us, activity) AS rn FROM subev) z WHERE rn = 1),
      |acts AS (SELECT batch_id, instant, src,
      |  string_agg(DISTINCT activity, ',' ORDER BY activity) AS activities
      |  FROM subev GROUP BY 1, 2, 3),
      |wl AS (
      |  SELECT n.batch_id, n.instant, count(DISTINCT l.case_id) AS workload
      |  FROM (SELECT DISTINCT batch_id, instant FROM instants) n
      |  JOIN meta m ON m.batch_id = n.batch_id
      |  JOIN en l ON l.resource = m.resource AND l.enabled_us <= n.instant AND n.instant <= l.end_us
      |  GROUP BY 1, 2)""".stripMargin

  def featuresOracleFinalSelect: String =
    """SELECT s.batch_id, m.batch_type, a.activities, f.firing_activity,
      |  s.instant AS instant_us, s.src, s.num_queue,
      |  s.instant - s.last_en AS t_ready_us,
      |  s.instant - s.first_en AS t_waiting_us,
      |  s.instant - s.min_case_first AS t_max_flow_us,
      |  CAST(isodow(make_timestamp(s.instant)) - 1 AS INT) AS day_of_week,
      |  CAST(day(make_timestamp(s.instant)) AS INT) AS day_of_month,
      |  CAST(hour(make_timestamp(s.instant)) AS INT) AS hour_of_day,
      |  CAST(minute(make_timestamp(s.instant)) AS INT) AS minute_of_hour,
      |  coalesce(w.workload, 0) AS workload, s.outcome
      |FROM subs s
      |JOIN meta m ON m.batch_id = s.batch_id
      |JOIN firing f ON f.batch_id = s.batch_id AND f.instant = s.instant AND f.src = s.src
      |JOIN acts a ON a.batch_id = s.batch_id AND a.instant = s.instant AND a.src = s.src
      |LEFT JOIN wl w ON w.batch_id = s.batch_id AND w.instant = s.instant""".stripMargin

  def featuresOracleSelect: String =
    featuresOracleCtes + "\n" + featuresOracleFinalSelect

  /** The rule-scores oracle embeds the induced predicates (data-dependent):
    * generated from the memoized fit, which Verify populates by RUNNING
    * the ar_rule_scores* queries before it dumps oracle_sql.json. Omitted
    * (rows-only check) when no fit ran or nothing survived the gates.
    * `groupSql` is the mode's DuckDB group expression over `feat`. */
  private def ruleScoresOracle(f: Map[String, Option[RuleSet]], groupSql: String): String = {
    def esc(s: String) = s.replace("'", "''")
    val groups = f.toSeq.sortBy(_._1)
    val predSql = s"CASE $groupSql " +
      groups.map { case (g, rs) =>
        s"WHEN '${esc(g)}' THEN ${rs.map(_.toSql).getOrElse("FALSE")}"
      }.mkString(" ") +
      " ELSE NULL END"
    val inList = groups.map { case (g, _) => s"'${esc(g)}'" }.mkString(", ")
    graft.pm.PmQueries.withFeaturePrefix(
      featuresOracleCtes + ",\nfeat AS (\n" + featuresOracleFinalSelect + ")\n" +
        s"""SELECT group_key, num_obs,
           |  (tp * 1000000) // NULLIF(pp, 0) AS confidence_e6,
           |  (tp * 1000000) // NULLIF(num_obs, 0) AS support_e6
           |FROM (
           |  SELECT $groupSql AS group_key, CAST(count(*) AS BIGINT) AS num_obs,
           |    CAST(sum(CASE WHEN m AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |    CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS pp
           |  FROM (SELECT *, $predSql AS m FROM feat WHERE $groupSql IN ($inList)) z
           |  GROUP BY 1) y""".stripMargin)
  }

  def oracleSql: Map[String, String] = {
    val base = Map(
      "ar_features" -> graft.pm.PmQueries.withFeaturePrefix(featuresOracleSelect))
    Modes.foldLeft(base) { case (acc, (suffix, groupCol, groupSql)) =>
      Option(lastFits.get(groupCol)).filter(_.nonEmpty) match {
        case Some(f) => acc + (s"ar_rule_scores$suffix" -> ruleScoresOracle(f, groupSql))
        case None => acc
      }
    }
  }
}
