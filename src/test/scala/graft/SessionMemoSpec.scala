package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session memo's contract: one build per key under concurrent
  * callers, nested builds on the one map, failed builds retried, and the
  * per-node dataset-switch eviction (blocks released, other nodes kept,
  * stopped sessions dropped without a release, files of the bucketed
  * copies deleted). */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  private val sfDir = s"${Fixtures.testdata}/sf0.001"

  private def liveMemo = new SessionMemo(_.sparkContext.isStopped)

  /** Runs `n` calls of `body(i)` on `n` threads at once and returns their
    * results; fails on a timeout (a deadlock) or a thrown build. */
  private def concurrently[A](n: Int)(body: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val fs = (0 until n).map(i => pool.submit(new Callable[A] {
        def call(): A = { start.await(); body(i) }
      }))
      start.countDown()
      fs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("six concurrent callers of one key share one build") {
    val memo = liveMemo
    val builds = new AtomicInteger(0)
    val got = concurrently(6) { _ =>
      memo.of[Int](spark, "d", "n", _ => ()) { Thread.sleep(300); builds.incrementAndGet() }
    }
    assert(got.toSet == Set(1) && builds.get == 1, s"builds=${builds.get} results=$got")
  }

  test("six threads forcing a nested chain finish without deadlock") {
    // 24 deep, not the pipelines' 4: with this many keys some share a
    // ConcurrentHashMap bin, where a build run inside computeIfAbsent
    // throws "Recursive update" or deadlocks across threads
    val depth = 24
    val memo = liveMemo
    val builds = Array.fill(depth)(new AtomicInteger(0))
    def node(k: Int): Int = memo.of[Int](spark, "d", s"n$k", _ => ()) {
      builds(k).incrementAndGet()
      Thread.sleep(20)
      if (k == depth - 1) 1 else node(k + 1) + 1
    }
    // threads enter the chain at different depths
    val got = concurrently(6)(i => (i * 4, node(i * 4)))
    got.foreach { case (k, v) => assert(v == depth - k, s"node $k read $v") }
    assert(builds.forall(_.get == 1), s"builds per node: ${builds.map(_.get).toSeq}")
  }

  test("a throwing build caches nothing and the next caller retries") {
    val memo = liveMemo
    val builds = new AtomicInteger(0)
    def get(): Int = memo.of[Int](spark, "d", "flaky", _ => ()) {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      42
    }
    intercept[IllegalStateException](get())
    assert(get() == 42 && builds.get == 2)
    // an entry whose build failed is dropped on a dataset switch without
    // being built again and without a release
    val released = new AtomicInteger(0)
    intercept[IllegalStateException](memo.of[Int](spark, "d1", "unbuilt",
      _ => released.incrementAndGet())(throw new IllegalStateException("no value")))
    memo.of[Int](spark, "d2", "unbuilt", _ => released.incrementAndGet())(7)
    assert(released.get == 0 && !memo.keys(spark).contains(("d1", "unbuilt")))
  }

  test("a dataset switch releases that node's blocks and keeps other nodes' entries") {
    val memo = liveMemo
    val sc = spark.sparkContext
    def staged(node: String, d: String): Int = {
      val before = sc.getPersistentRDDs.keySet
      memo(spark, d, node)(Pinned.stageEager(spark.range(100).toDF("id")))
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.size == 1, s"one staged RDD per build, got $added")
      added.head
    }
    val a1 = staged("a", "d1")
    val b1 = staged("b", "d1")
    val a2 = staged("a", "d2")
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.getPersistentRDDs.contains(a1) && System.nanoTime() < deadline) Thread.sleep(100)
    assert(!sc.getPersistentRDDs.contains(a1), "the switched node's blocks must be released")
    assert(sc.getPersistentRDDs.contains(b1) && sc.getPersistentRDDs.contains(a2))
    assert(memo.keys(spark) == Set(("d1", "b"), ("d2", "a")))
    Seq(b1, a2).foreach(id => sc.getPersistentRDDs(id).unpersist(false))
  }

  test("a stopped session's entries are dropped on the next access, blocks untouched") {
    val down = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()
    val memo = new SessionMemo(s => down.contains(s))
    val other = spark.newSession()
    val released = new AtomicInteger(0)
    memo.of[Int](other, "d", "n", _ => released.incrementAndGet())(1)
    memo.of[Int](other, "d", "m", _ => released.incrementAndGet())(2)
    assert(memo.keys(other).size == 2)
    down.add(other)
    memo.of[Int](spark, "d", "x", _ => ())(3)
    assert(memo.keys(other).isEmpty, "stopped session's entries must be dropped")
    assert(released.get == 0, "a stopped session's blocks are never touched")
    assert(memo.keys(spark) == Set(("d", "x")))
  }

  test("bucketed copies: a dataset switch drops their tables and deletes their files") {
    // the same files under a second path: a distinct dataset key
    val alias = sfDir + "/"
    def location(t: String): java.io.File = new java.io.File(new java.net.URI(
      spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
        .collectFirst { case r if r.getString(0) == "Location" => r.getString(1) }.get))
    val (ot, lt) = relational.Bucketing.ensureBucketed(spark, sfDir)
    val root = location(ot).getParentFile
    assert(root.getName.startsWith("graft_bucketed") && root == location(lt).getParentFile)
    relational.Bucketing.ensureBucketed(spark, alias)
    assert(!root.exists(), s"$root must be deleted on a dataset switch")
    assert(!spark.catalog.tableExists(ot) && !spark.catalog.tableExists(lt))
  }

  test("rule fits are evicted on a dataset switch") {
    import spark.implicits._
    // the same files under a second path: a distinct dataset key
    val alias = sfDir + "/"
    val scores = rules.RuleQueries.queries("ar_rule_scores")
    val first = scores(spark, sfDir).orderBy($"group_key").collect().toSeq
    assert(SessionMemo.keys(spark).contains((sfDir, "ar_fit_activities")))
    val second = scores(spark, alias).orderBy($"group_key").collect().toSeq
    // every node the scoring query reads moved to the new dataset
    val chain = Seq("pm_enabled_stage", "pm_seg_stage", "pm_disc", "ar_features",
      "ar_fit_activities")
    val keys = SessionMemo.keys(spark)
    chain.foreach { n =>
      assert(keys.contains((alias, n)) && !keys.contains((sfDir, n)), s"node $n: $keys")
    }
    assert(first == second, "the same files must score the same")
  }

  test("releasing night 1 leaves the memo frames it was handed readable") {
    // j7_ingest_night1 is built over the shared j2_bloom_slices,
    // j2_bloom_positions and LSH-build memo frames; releasing it must free
    // only the frames night 1 created — a released checkpoint another
    // memo still serves has missing blocks that cannot be recomputed
    val q = ext.ExtQueries.queries
    def rows(name: String): Seq[String] =
      q(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
    q("j7_ingest_upsert2")(spark, sfDir).collect()
    assert(SessionMemo.keys(spark).contains((sfDir, "j7_ingest_night1")))
    val before = rows("j7_ingest_upsert")
    // accessing the node for another dataset releases this dataset's entry
    SessionMemo.of[ext.Pipeline.IngestNight1](spark, sfDir + "#release",
      "j7_ingest_night1", _ => ())(null)
    assert(!SessionMemo.keys(spark).contains((sfDir, "j7_ingest_night1")))
    Seq("j2_bloom_slices", "j2_bloom_positions", "j2_shingle_fp", "j2_band_sig")
      .foreach(n => assert(SessionMemo.keys(spark).contains((sfDir, n)), s"node $n"))
    assert(rows("j7_ingest_upsert") == before,
      "a shared memo frame lost its blocks with night 1")
    Pinned.release(spark)
  }
}
