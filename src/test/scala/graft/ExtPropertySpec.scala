package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Property-based invariants of the extension operators over random
  * inputs — the adversarial complement to ExtSpec's hand-built fixtures.
  *
  *   1. jaccardNgramPairs is EXACT: for every random corpus and threshold,
  *      its output equals brute-force all-pairs Jaccard — the prefix
  *      filter + length filter + bucket path may prune candidates, never
  *      results. Small vocabularies force heavily-shared shingles (the
  *      regime where a rare-token-only index would miss pairs).
  *   2. saltedJoin is salt-invariant: inner and left_outer results equal
  *      the plain join for every random fact/dim and every fan-out n.
  *   3. bm25TopK is input-order invariant (at cluster scale partition
  *      order is arbitrary — scores and ranks must be total functions of
  *      the SET of documents).
  *
  * Seeded: a failure reproduces by its printed sample index.
  */
class ExtPropertySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("jaccard ngram join equals brute force for random corpora and thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    for (sample <- 1 to 6) {
      val t = Seq(0.5, 0.7, 0.8, 0.9)(rnd.nextInt(4))
      val docs = (1 to (6 + rnd.nextInt(6))).map { id =>
        val n = 3 + rnd.nextInt(12)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = ext.Dedup.jaccardNgramPairs(ext.Dedup.shingleFpArrays(df), t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = ext.Dedup.shingles(df).collect()
        .map(r => (r.getLong(0), r.getString(2)))
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        i = (sets(a) & sets(b)).size
        if i.toDouble / (sets(a).size + sets(b).size - i) >= t
      } yield (a, b)).toSet
      assert(got == want,
        s"[sample $sample t=$t] exact join diverged: got=$got want=$want docs=$docs")
      graft.Pinned.release(spark)
    }
  }

  test("scalable bloom: slice assignment is arrival-prefix-stable and never misses a member") {
    import spark.implicits._
    // two laws over random corpora: (1) PREFIX STABILITY — appending docs
    // with strictly later ids never changes an existing line's slice
    // (arrival rank of earlier lines is fixed, so sealed slices are
    // immutable, the property that makes them broadcastable bitmaps);
    // (2) NO FALSE NEGATIVES — every probed line that IS a corpus line
    // reads as a member, whatever the cap.
    val rnd = new scala.util.Random(20260816L)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    def doc(id: Long, nLines: Int) = (id, (1 to nLines).flatMap(_ =>
      Seq.fill(5)(vocab(rnd.nextInt(vocab.length)))).mkString(" "))
    for (sample <- 1 to 4) {
      val cap = 2L + rnd.nextInt(4)
      val base = (1 to (4 + rnd.nextInt(4))).map(i => doc(i.toLong, 1 + rnd.nextInt(3)))
      val more = (20 to (22 + rnd.nextInt(3))).map(i => doc(i.toLong, 1 + rnd.nextInt(3)))
      def slices(ds: Seq[(Long, String)]): Map[String, Long] =
        ext.Dedup.bloomSliceLines(
            ext.Dedup.bloomDocLines(ds.toDF("doc_id", "text")), cap)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val s1 = slices(base)
      val s2 = slices(base ++ more)
      s1.foreach { case (line, sl) =>
        assert(s2(line) == sl,
          s"[sample $sample cap=$cap] later arrivals moved line '$line': $sl -> ${s2(line)}")
      }
      // FN-free: probe the corpus against itself (mod carve: corpus ids
      // 1..9/21.. are % 10 != 0; give the probe doc id 10 with a corpus line)
      val corpusLine = s1.keys.head
      val all = (base ++ more) :+ (10L -> corpusLine)
      val allDf = all.toDF("doc_id", "text")
      val slicePos = ext.Dedup.bloomSlicePositions(ext.Dedup.bloomSliceLines(
        ext.Dedup.bloomDocLines(allDf.filter($"doc_id" % 10 =!= 0)), cap), cap)
      val probe = ext.Dedup.bloomScaleProbe(allDf, slicePos, cap0 = cap)
        .agg(sum($"n_false_neg")).head.getLong(0)
      assert(probe == 0L, s"[sample $sample cap=$cap] sliced filter missed a member")
      graft.Pinned.release(spark)
    }
  }

  test("geometric bloom dials: contiguous bands, fill-at-cap sizing, telescoped budget") {
    // laws of the dial TABLE itself, for arbitrary (cap0, k0) — the
    // constants both engines consume. (1) the (lo, hi] bands partition
    // [1, cum-capacity] with cap_i = cap0 * 2^i exactly; (2) every slice
    // is sized to the <= 50%-fill-at-cap point: m * ln2 >= k * cap
    // (integer-rational check, same inequality the builder uses) AND m/2
    // would violate it (m is the SMALLEST such power of two — oversizing
    // would hide an error-model regression behind low fills); (3) k grows
    // by exactly 1 per slice from k0, so the compound error telescopes:
    // sum_i fill^k_i <= sum_i 2^-(k0+i) < 2^(1-k0).
    val rnd = new scala.util.Random(20260816L)
    for (sample <- 1 to 6) {
      val cap0 = 1L + rnd.nextInt(9000)
      val k0 = 2 + rnd.nextInt(10)
      val n = 4 + rnd.nextInt(37)
      val ps = ext.Dedup.bloomSliceParams(cap0, k0, n)
      assert(ps.size == n)
      var lo = 0L
      ps.zipWithIndex.foreach { case (s, i) =>
        assert(s.slice == i.toLong, s"[$sample] slice ids dense: $s")
        assert(s.lo == lo && s.hi == lo + (cap0 << i),
          s"[$sample cap0=$cap0] band $i not contiguous-geometric: $s")
        assert(s.k == k0 + i, s"[$sample k0=$k0] k must grow by 1: $s")
        assert(java.lang.Long.bitCount(s.m) == 1, s"[$sample] m not a power of two: $s")
        val cap = cap0 << i
        assert(BigInt(s.m) * 693147 >= BigInt(s.k) * cap * 1000000,
          s"[$sample] slice $i undersized (fill at cap would exceed 50%): $s")
        assert(BigInt(s.m / 2) * 693147 < BigInt(s.k) * cap * 1000000,
          s"[$sample] slice $i oversized (m not minimal): $s")
        lo = s.hi
      }
    }
  }

  test("BPE decode inverts encode for random word-soup corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val chars = "abcdef"
    for (sample <- 1 to 3) {
      val vocabWords = (1 to (5 + rnd.nextInt(5))).map(_ =>
        (1 to (2 + rnd.nextInt(5))).map(_ => chars(rnd.nextInt(chars.length))).mkString)
      val docs = (1 to (5 + rnd.nextInt(5))).map { id =>
        (id.toLong, (1 to (3 + rnd.nextInt(8)))
          .map(_ => vocabWords(rnd.nextInt(vocabWords.length))).mkString(" "))
      }.toDF("doc_id", "text")
      val rules = ext.TextOps.bpeTrain(docs)
      val applied = ext.TextOps.bpeApply(docs, rules)
      val enc = ext.TextOps.bpeEncodeDocs(docs, applied)
      val bad = ext.TextOps.bpeDecodeDocs(docs, enc, applied)
        .filter($"roundtrip_ok" =!= 1L).count()
      assert(bad == 0L, s"[sample $sample] round-trip failed on a random corpus")
      graft.Pinned.release(spark)
    }
  }

  test("stream probe's row-local cell assignment equals the batch argmax on random vectors") {
    import spark.implicits._
    // the bit-exactness claim behind st_sem_probe, tested beyond harness
    // data: for random embeddings, the packed-array array_min fold must
    // reproduce semDedupIncremental's per-vector (cell via best match)
    // decisions — same rounded cosine, same min-cid tiebreak.
    val rnd = new scala.util.Random(20260817L)
    for (sample <- 1 to 3) {
      val n = 120 + rnd.nextInt(80)
      val emb = spark.range(0L, n).select($"id".as("vec_id"),
        transform(sequence(lit(1), lit(8)),
          i => (pmod(xxhash64($"id" * lit(7919 + sample) + i), lit(2001)) - 1000)
            .cast("float") / 1000f).as("embedding"))
      val pair = ext.Similarity.semProbeBatch(spark, s"prop_semprobe_${sample}_$n", emb)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"vec_id").orderBy($"cos_sim_e6".desc, $"mid")))
        .filter($"rn" === 1)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = ext.Similarity.semDedupIncremental(emb, ext.Similarity.semIncCells(emb))
        .filter($"best_match" =!= -1L)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      assert(pair == batch,
        s"[sample $sample n=$n] row-local assignment diverged (${pair.size} vs ${batch.size})")
      graft.Pinned.release(spark)
    }
  }

  test("dup-ngram fraction equals brute force for random corpora") {
    import spark.implicits._
    // Small vocab + short docs force heavy cross-doc gram sharing — the
    // regime where a fingerprint-collision or distinct/df bug would show.
    val rnd = new scala.util.Random(20260815L)
    val vocab = Array("a", "b", "c", "d", "e")
    val n = 4 // 4-grams keep the brute-force cheap while non-trivial
    for (sample <- 1 to 6) {
      val docs = (1 to (5 + rnd.nextInt(6))).map { id =>
        val len = 3 + rnd.nextInt(10)
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = ext.Dedup.dupNgramFrac(df, n = n).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // brute force over STRING n-grams (no fingerprints)
      val grams = docs.map { case (id, t) =>
        val toks = t.split(" ")
        id -> toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
      }.toMap
      val want = grams.collect { case (id, gs) if gs.nonEmpty =>
        val dup = gs.count(g => grams.exists { case (o, og) => o != id && og(g) })
        id -> ((gs.size.toLong, dup.toLong))
      }
      assert(got == want, s"[sample $sample] diverged: got=$got want=$want docs=$docs")
      graft.Pinned.release(spark)
    }
  }

  test("scrub spans equals brute force for random corpora") {
    import spark.implicits._
    // heavy cross-doc gram sharing: overlapping duplicated runs, runs
    // touching both doc boundaries, fully-duplicated docs — all arise
    // naturally at this vocab/length regime.
    val rnd = new scala.util.Random(20260817L)
    val vocab = Array("a", "b", "c", "d", "e")
    val n = 4
    for (sample <- 1 to 6) {
      val docs = (1 to (5 + rnd.nextInt(6))).map { id =>
        val len = 3 + rnd.nextInt(10)
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = ext.Dedup.scrubSpans(ext.Dedup.dupStarts(df, n), n = n).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6))))
        .toMap
      // brute force over STRING n-grams: dup = grams in >= 2 docs (distinct
      // per doc); token p covered iff some dup gram starts in [p-n+1, p]
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val gramsOf = toks.map { case (id, ts) =>
        id -> ts.sliding(n).filter(_.length == n).map(_.mkString(" ")).toVector
      }
      val dup = gramsOf.values.flatMap(_.distinct).groupBy(identity)
        .collect { case (g, xs) if xs.size >= 2 => g }.toSet
      val want = docs.map { case (id, _) =>
        val ts = toks(id)
        val starts = gramsOf(id).zipWithIndex.collect { case (g, i) if dup(g) => i + 1 }
        val covered = (1 to ts.length).map(p => starts.exists(s => s <= p && p <= s + n - 1))
        val kept = ts.zip(covered).collect { case (t, false) => t }
        val nc = ts.map(_.length.toLong).sum
        val rc = ts.zip(covered).collect { case (t, true) => t.length.toLong }.sum
        id -> ((ts.length.toLong, covered.count(identity).toLong, nc, rc,
          rc * 1000000L / math.max(nc, 1L), kept.mkString(" ")))
      }.toMap
      assert(got == want, s"[sample $sample] diverged: got=$got want=$want docs=$docs")
      graft.Pinned.release(spark)
    }
  }

  test("global shuffle is a seed-stable bijection with an exact token prefix sum") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val vocab = Array("the", "a", "of", "x", "y", "z", "w")
    for (sample <- 1 to 3) {
      val docs = (0 until (40 + rnd.nextInt(40))).map { id =>
        val len = 3 + rnd.nextInt(20)
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "),
          s"src${id % 3}")
      }
      val df = docs.toDF("doc_id", "text", "source")
      val got = ext.Pipeline.globalShuffle(df).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      val n = got.length
      // BIJECTION: ranks are exactly 1..n, each once
      assert(got.map(_._4).sorted.toSeq == (1L to n).toSeq,
        s"[sample $sample] ranks not a bijection")
      // rank order IS (key, doc_id) order, and tok_offset is the exact
      // exclusive prefix sum of token counts in that order
      val inOrder = got.sortBy(t => (t._3, t._1))
      assert(inOrder.map(_._4).toSeq == (1L to n).toSeq,
        s"[sample $sample] rank disagrees with (key, id) order")
      val prefix = inOrder.map(_._2).scanLeft(0L)(_ + _).init
      assert(inOrder.map(_._5).toSeq == prefix.toSeq,
        s"[sample $sample] tok_offset is not the exclusive prefix sum")
      // SEED STABILITY: same seed twice -> identical permutation; a
      // different seed -> a different order of the same id set
      val again = ext.Pipeline.globalShuffle(df).collect()
        .map(r => (r.getLong(0), r.getLong(4))).toMap
      assert(got.forall(t => again(t._1) == t._4), s"[sample $sample] not seed-stable")
      val other = ext.Pipeline.globalShuffle(df, seed = 18).collect()
        .map(r => (r.getLong(0), r.getLong(4))).toMap
      assert(other.keySet == got.map(_._1).toSet,
        s"[sample $sample] reseeding changed the kept id set")
      assert(got.exists(t => other(t._1) != t._4),
        s"[sample $sample] reseeding must change the order")
      graft.Pinned.release(spark)
    }
  }

  test("curriculum: stages ordered middle-then-head, bijective ranks, exact prefix sum") {
    import spark.implicits._
    val docs = Tables.documents(spark, s"${Fixtures.testdata}/sf0.001")
    val got = ext.Pipeline.curriculum(docs, ext.Pipeline.pplBuckets(docs)).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    val n = got.length
    assert(n > 0)
    // the tail tercile is DROPPED; stage 1 = middle, stage 2 = head
    assert(got.forall(t => (t._3 == 1L) == (t._2 == "middle")
      && (t._3 == 2L) == (t._2 == "head")), "stage/bucket mapping")
    // ANNEAL ordering: every middle-stage doc trains before every head doc
    val maxMiddle = got.filter(_._3 == 1L).map(_._5).max
    val minHead = got.filter(_._3 == 2L).map(_._5).min
    assert(maxMiddle < minHead,
      s"head must train last: max middle rank $maxMiddle >= min head rank $minHead")
    // bijection + exclusive token prefix sum in rank order
    assert(got.map(_._5).sorted.toSeq == (1L to n).toSeq, "ranks not a bijection")
    val inOrder = got.sortBy(_._5)
    val prefix = inOrder.map(_._4).scanLeft(0L)(_ + _).init
    assert(inOrder.map(_._6).toSeq == prefix.toSeq,
      "tok_offset is not the exclusive prefix sum in curriculum order")
    graft.Pinned.release(spark)
  }

  test("semdedup: near-sets are exactly the same-cell cosine>=threshold components") {
    import spark.implicits._
    // The Lloyd assignment is oracle-checked; here take the emitted cells
    // as given and verify the DECISION surface exactly: recompute every
    // same-cell pair's quantized cosine brute-force, union-find the >=
    // threshold pairs, and demand identical near-sets + min-id keeps.
    val rnd = new scala.util.Random(20260818L)
    for (sample <- 1 to 3) {
      val emb = (0 until 40 + rnd.nextInt(20)).map { i =>
        (i.toLong, Seq.fill(8)((rnd.nextInt(2001) - 1000) / 1000.0f))
      }
      val df = emb.toDF("vec_id", "embedding")
      val got = ext.Similarity.semDedup(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got.size == emb.size, "every vector emitted once")
      val q = emb.map { case (id, v) => id -> v.map(x => math.round(x * 1000000.0)) }.toMap
      def cosE6(a: Long, b: Long): Long = {
        val (va, vb) = (q(a), q(b))
        val dot = va.zip(vb).map { case (x, y) => x * y }.sum
        val na = va.map(x => x * x).sum.toDouble
        val nb = vb.map(x => x * x).sum.toDouble
        math.round(dot.toDouble / math.sqrt(na * nb) * 1000000.0)
      }
      // union-find over same-cell >= threshold pairs
      val parent = scala.collection.mutable.Map(emb.map(e => e._1 -> e._1): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for {
        a <- got.keys; b <- got.keys
        if a < b && got(a)._1 == got(b)._1 && cosE6(a, b) >= ext.Similarity.SemDedupCosE6
      } { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val wantSet = got.keys.map(v => v -> find(v)).toMap
      // component label = min member id by construction of union toward min
      val minOf = wantSet.groupBy(_._2).map { case (r, xs) => r -> xs.keys.min }
      for (v <- got.keys) {
        val wantLabel = minOf(wantSet(v))
        assert(got(v)._2 == wantLabel,
          s"[sample $sample] vec $v near_set ${got(v)._2} != brute-force $wantLabel")
        assert(got(v)._3 == (if (v == wantLabel) 1L else 0L),
          s"[sample $sample] vec $v kept flag wrong")
      }
      graft.Pinned.release(spark)
    }
  }

  test("ngram decontam equals brute force for random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val n = 3
    for (sample <- 1 to 5) {
      val evalDocs = 3L
      val docs = (0 to (7 + rnd.nextInt(5))).map { id =>
        val len = 3 + rnd.nextInt(8)
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = ext.Pipeline.decontamNgram(df, n = n, evalDocs = evalDocs).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val grams = docs.map { case (id, t) =>
        id -> t.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
      }.toMap
      val evalG = grams.filter(_._1 < evalDocs)
      val want = grams.collect { case (id, gs) if id >= evalDocs && gs.nonEmpty =>
        val shared = gs.count(g => evalG.values.exists(_(g)))
        val nEval = evalG.count { case (_, eg) => gs.exists(eg) }
        id -> ((gs.size.toLong, shared.toLong, nEval.toLong))
      }
      assert(got == want, s"[sample $sample] diverged: got=$got want=$want docs=$docs")
      graft.Pinned.release(spark)
    }
  }

  test("salted join equals plain join for random inputs, both join types") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (sample <- 1 to 6) {
      val keys = Array("k0", "k1", "k2", "hot")
      val fact = (1 to (5 + rnd.nextInt(20))).map { id =>
        // bias toward the hot key — the case salting exists for
        (id.toLong, if (rnd.nextInt(3) > 0) "hot" else keys(rnd.nextInt(3)), rnd.nextInt(100))
      }.toDF("id", "k", "v")
      val dim = keys.take(2 + rnd.nextInt(3)).map(k => (k, rnd.nextInt(1000).toLong))
        .toSeq.toDF("k", "attr")
      val n = 2 + rnd.nextInt(15)
      for (jt <- Seq("inner", "left_outer")) {
        val got = relational.SkewOps.saltedJoin(fact, dim, Seq("k"), n, jt)
          .select($"id", $"attr").collect()
          .map(r => (r.getLong(0), String.valueOf(r.get(1)))).sorted.toSeq
        val want = fact.join(dim, Seq("k"), jt)
          .select($"id", $"attr").collect()
          .map(r => (r.getLong(0), String.valueOf(r.get(1)))).sorted.toSeq
        assert(got == want, s"[sample $sample n=$n $jt] salted != plain")
      }
    }
  }

  test("bm25 is input-order invariant") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val vocab = Array("hash", "table", "scan", "sort", "merge", "batch", "x", "y")
    val docs = (1 to 12).map { id =>
      (id.toLong, Seq.fill(4 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val qs = Seq((1L, "hash table scan"), (2L, "sort merge batch"))
    val a = ext.TextOps.bm25TopK(docs.toDF("doc_id", "text"), qs, k = 4)
      .collect().map(_.toString).sorted.toSeq
    val b = ext.TextOps.bm25TopK(
        rnd.shuffle(docs).toDF("doc_id", "text").repartition(7), qs, k = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, s"bm25 depends on input order:\n$a\nvs\n$b")
  }

  test("spell pairs equal brute-force levenshtein<=1 for random vocabularies") {
    import spark.implicits._
    // doc_ids avoid % 7 == 0 so the fixture plant stays out of the way and
    // the DELETION-THEOREM exactness is tested on its own
    val rnd = new scala.util.Random(20260814L)
    val alpha = "abcd" // tiny alphabet forces dense near-miss neighborhoods
    for (sample <- 1 to 4) {
      val words = (1 to 30).map(_ =>
        (1 to (4 + rnd.nextInt(3))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      val docs = words.zipWithIndex.map { case (w, i) =>
        ((i * 7 + 1).toLong, w) } // never % 7 == 0
        .toDF("doc_id", "text")
      val got = ext.TextOps.spellPairs(docs).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val vocab = words.distinct.filter(_.length >= ext.TextOps.SpellMinLen)
      val want = (for {
        a <- vocab; b <- vocab if a < b && lev(a, b) <= 1
      } yield (a, b)).toSet
      assert(got == want, s"sample $sample: got $got want $want")
    }
  }
}
