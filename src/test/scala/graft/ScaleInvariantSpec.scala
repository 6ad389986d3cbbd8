package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Standing tripwire for the scale invariants `graft.ScaleProbe` measures
  * at sf0.1x10 (SCALE_PROBE.json): a fast sf0.001 x4 version that runs in
  * `sbt test`, so a code change that introduces a quadratic join shape or
  * blows the LSH bucket cap under inflation is caught at commit time, not
  * at the next manual probe run. Wall-clock ratios are deliberately NOT
  * asserted here (CI boxes are noisy); the probe's committed artifact
  * carries the timing evidence.
  */
class ScaleInvariantSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val dir = s"${Fixtures.testdata}/sf0.001"
  private val factor = 4

  test("near-dup pipeline under inflation: no quadratic joins, bucket cap holds") {
    import spark.implicits._
    val docs = ScaleProbe.inflatedDocs(Tables.documents(spark, dir), factor)
    val pairs = ext.Dedup.nearDupPairs(ext.Dedup.shingleBands(docs))
    assert(pairs.count() > 0)
    val (quad, _) = ScaleProbe.joinCounts(pairs)
    assert(quad == 0, s"quadratic join shape in inflated nearDupPairs plan ($quad)")
    val maxBucket = ext.Dedup.bandBucketSizes(docs).agg(max($"cnt")).head.getLong(0)
    assert(maxBucket <= ext.Dedup.BucketCap,
      s"band bucket $maxBucket exceeds cap ${ext.Dedup.BucketCap} at ${factor}x")
    Pinned.release(spark)
  }

  test("inflated docs preserve the near-dup rate and isolate copies") {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
    val n1 = ext.Dedup.nearDupPairs(ext.Dedup.shingleBands(base))
      .filter($"jaccard" >= ext.Dedup.NearDupGroupJaccard).count()
    val stride = base.agg(max($"doc_id")).head.getLong(0) + 1
    val pf = ext.Dedup.nearDupPairs(
        ext.Dedup.shingleBands(ScaleProbe.inflatedDocs(base, factor)))
      .filter($"jaccard" >= ext.Dedup.NearDupGroupJaccard)
    // zero cross-copy pairs: token renaming is bijective per copy, so every
    // verified pair stays inside one copy's id stripe
    val cross = pf.filter($"doc_a".divide(stride).cast("long") =!=
      $"doc_b".divide(stride).cast("long")).count()
    assert(cross == 0, s"$cross cross-copy near-dup pairs leaked")
    // and the per-copy rate matches the base corpus exactly (bijective
    // token rename preserves shingle-set relations; LSH uses the same
    // md5 seeds on different strings, so allow the candidate-sampling
    // wobble of +-30% around factor * base)
    val nf = pf.count()
    assert(nf >= (factor * n1 * 7) / 10 && nf <= (factor * n1 * 13) / 10,
      s"inflated verified-pair count $nf vs base $n1 x $factor")
    Pinned.release(spark)
  }

  test("graded CC path: >31-diameter chain collapses; converged == unroll on the corpus") {
    import spark.implicits._
    // Since round 10 j2_neardup_groups routes through ccGroupsConverged —
    // no diameter precondition. An adversarial 100-vertex path graph
    // (diameter 99, beyond the fixed unroll's 31 bound AND beyond what any
    // single pointer-jump round covers) must fully collapse.
    val n = 100
    val verts = (0 until n).map(_.toLong).toDF("v")
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val got = ext.Dedup.ccGroupsConverged(verts, chain)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall(_._2 == 0L), s"diameter-99 chain must collapse to component 0")
    assert(got.count(_._3 == 1L) == 1, "exactly one canonical survivor")
    // And on the real corpus the graded converged path is bit-identical to
    // the fixed-unroll form (the hash-unchanged condition for the reroute).
    val docs = Tables.documents(spark, dir)
    val pairs = Pinned.stageEager(ext.Dedup.nearDupPairs(ext.Dedup.shingleBands(docs)))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val u = asSet(ext.Dedup.nearDupGroups(docs, pairs))
    val c = asSet(ext.Dedup.nearDupGroupsConverged(docs, pairs))
    assert(u == c, "converged CC must match the unrolled form on the corpus")
    Pinned.releaseFrame(pairs)
    Pinned.release(spark)
  }

  test("dup-ngram fraction under inflation: per-copy structure preserved, no cross-copy dups") {
    import spark.implicits._
    // bijective per-copy token renaming keeps every within-copy 10-gram
    // relation and creates zero cross-copy gram collisions, so each doc's
    // (n_grams, n_dup) must equal its base copy's — corpus-level dup
    // counts scale EXACTLY by the factor, not quadratically.
    val base = Tables.documents(spark, dir)
    val stride = base.agg(max($"doc_id")).head.getLong(0) + 1
    val b = ext.Dedup.dupNgramFrac(base).select($"doc_id", $"n_grams", $"n_dup")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val f = ext.Dedup.dupNgramFrac(ScaleProbe.inflatedDocs(base, factor))
      .select($"doc_id", $"n_grams", $"n_dup")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(f.size == factor * b.size)
    f.foreach { case (id, got) =>
      assert(got == b(id % stride), s"doc $id diverged from its base copy ${id % stride}")
    }
    Pinned.release(spark)
  }

  test("pm discovery under inflation: copies are independent periods") {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val log1 = pm.EventLogOps.fromEventsDf(ev)
    val logF = pm.EventLogOps.fromEventsDf(ScaleProbe.inflatedEvents(ev, factor))
    val d1 = pm.BatchDiscovery.discover(
      pm.EnabledTime.withEnabled(log1).transform(Pinned.track))
    val dF = pm.BatchDiscovery.discover(
      pm.EnabledTime.withEnabled(logF).transform(Pinned.track))
    val (quad, _) = ScaleProbe.joinCounts(dF)
    val batched1 = d1.filter($"batch_id".isNotNull).count()
    val batchedF = dF.filter($"batch_id".isNotNull).count()
    assert(dF.count() == factor * d1.count())
    // identical batch structure per copy: the +31-day shift preserves every
    // within-copy interval relation, and copies cannot co-batch (disjoint
    // resources x time)
    assert(batchedF == factor * batched1,
      s"batched events $batchedF != $factor x $batched1")
    assert(quad == 0, s"quadratic join shape in inflated discovery plan ($quad)")
    Pinned.release(spark)
  }
}
