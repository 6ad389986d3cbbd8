package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      // bound per-action plan-description cost: discoverFull's final frame
      // references its persisted intermediates many times, and the
      // DAG-to-tree expansion of the UNCAPPED explain string (built for
      // every SQLExecutionStart event) grows super-linearly — an uncapped
      // suite run spent 27+ CPU-minutes inside generateTreeString
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // AQE OFF for the semantics suites (and only here — Bench and
      // Verify keep it, that's the graded scale posture). AQE posts a
      // SparkListenerSQLAdaptiveExecutionUpdate on every stage completion,
      // and each post rebuilds SparkPlanInfo for the WHOLE plan —
      // an object-tree expansion that maxPlanStringLength does not cap.
      // discoverFull's layered self-references expand multiplicatively
      // (~50 copies of the base subtree), so per-stage re-posting turned
      // suite runs into GC-bound plan-info churn: 2m11s vs 24m for the
      // SAME code depending on GC/JIT luck. With one post per action
      // (non-adaptive), the suite is stable.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` on a fresh temp dir named `prefix*`, deleted afterwards. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
