package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/check.py). Each
  * query runs in a [[Telemetry.span]]; the rows go to telemetry.json. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.newSession(sfDir)
    spark.sparkContext.setLogLevel("WARN")
    val telemetry = Telemetry.attach(spark)
    new java.io.File(outDir).mkdirs()
    // Optional subset for fast local iteration: SPARK_GRAFT_ONLY=q1,q2
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Run queries concurrently: Spark schedules jobs from multiple driver
    // threads fine, and most queries leave the 32 cores mostly idle —
    // sequential execution made the driver's gate ~7min at sf0.01.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "6").toInt)
    selected.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            Telemetry.span(spark, name)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name"))
            done.add(name)
          } catch { case e: Throwable =>
            failures.add((name, String.valueOf(e.getMessage)))
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    pool.shutdown()
    // A hung query must surface as a RECORDED failure, not a silently
    // missing artifact: on timeout, every query that neither finished nor
    // threw is written to failures.json before the artifacts go out.
    val finished = pool.awaitTermination(2, java.util.concurrent.TimeUnit.HOURS)
    if (!finished) {
      pool.shutdownNow()
      selected.keys
        .filterNot(n => done.contains(n) || failures.asScala.exists(_._1 == n))
        .foreach { n =>
          failures.add((n, "timeout: unfinished after 2h"))
          System.err.println(s"[verify] $n TIMED OUT")
        }
    }
    // every control char escaped: a tab or CR in an oracle SQL string
    // would otherwise make the compare's json.load fail
    import Telemetry.{jsonString => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest + failure markers: a query that throws writes no output dir,
    // and a dir-iterating gate would silently skip it (round-1 advice).
    // queries.json lists what SHOULD exist; failures.json says what broke.
    val allNames = selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), allNames)
    val failList = failures.asScala.toList
    val failJson = failList.sortBy(_._1)
      .map { case (n, m) => s"${q(n)}: ${q(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    // best effort: a bus that does not drain in time (threads of timed-out
    // queries may still run jobs) loses the rows, never the verdict
    try Files.writeString(Paths.get(s"$outDir/telemetry.json"),
      telemetry.json().mkString("{\"rows\":[\n", ",\n", "\n]}\n"))
    catch { case e: Throwable => System.err.println(s"[verify] telemetry lost: $e") }
    spark.stop()
    if (failList.nonEmpty)
      System.err.println(s"[verify] ${failList.size} queries FAILED: " +
        failList.map(_._1).sorted.mkString(", "))
  }
}
