package graft

/** Prints formatted physical plans for selected queries — the plan-review
  * loop (SURVEY §4 posture: pushdown visible, dims broadcast, no stray
  * exchanges), on the shared `Bench.newSession` setup.
  * Usage: tools/run.sh graft.Explain [sfDir] [q1 q2 ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${Fixtures.testdata}/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Bench.newSession(sfDir)
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n========== $n ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
