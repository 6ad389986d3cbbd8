package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline decisions (SURVEY J-surface capstones):
  * the keep/drop/split manifest a 100 TB curation run actually emits, and
  * benchmark decontamination. Both COMPOSE the graded kernels (near-dup
  * clustering, quality stats, winnowing fingerprints) — no new primitives,
  * just the decision joins a production pipeline runs on top of them.
  *
  * Scale posture: every stage is a per-doc projection or a key-grain join
  * on frames the underlying kernels already bound (cluster labels, doc
  * stats, fingerprint grain); nothing here adds a shuffle beyond those.
  */
object Pipeline {
  /** Token-count acceptance band (harness docs span 10..99 tokens — the
    * band drops both tails, like a real length filter). */
  val MinTokens = 20L
  val MaxTokens = 90L
  /** Minimum stopword ratio — an English-likeness floor (docs below read
    * as keyword soup; harness 25th percentile is ~0.04). */
  val MinStopRatio = 0.02
  /** Split hashing: md5-derived bucket in [0, SplitBuckets); the last two
    * buckets are val and test (90/5/5 at 20 buckets). Seed 7 keeps the
    * stream independent of the minhash (0..N) and winnow (9) seeds. */
  val SplitBuckets = 20L
  val SplitSeed = 7
  /** Decontamination eval set: doc_id < this are the "benchmark" docs. */
  val EvalDocs = 20L

  /** The training-set manifest: one row per document with each gate's
    * verdict, the composed keep flag, and the deterministic split.
    *   - dup_ok: the doc is its near-dup cluster's canonical survivor
    *     (`groups` — non-canonical members are dropped);
    *   - lang_ok: metadata language is English (the curation target);
    *   - len_ok / quality_ok: token-count band and stopword-ratio floor
    *     over [[TextOps.qualityStats]]'s columns;
    *   - split: md5-bucket of doc_id — stable under corpus growth (a doc's
    *     split never depends on other rows).
    * @param groups the near-dup clusters ([[Dedup.nearDupGroupsConverged]];
    *               the query layer passes its session memo). */
  def trainsetManifest(docs: DataFrame, groups: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val canon = groups.select($"doc_id", $"is_canonical")
    val quality = TextOps.qualityStats(docs)
      .select($"doc_id", $"n_tokens", $"stop_ratio")
    val bucket = pmod(Dedup.md5Hash32(SplitSeed, $"doc_id".cast("string")),
      lit(SplitBuckets))
    docs.select($"doc_id", $"lang")
      .join(canon, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .select(
        $"doc_id",
        ($"is_canonical" === 1L).cast("long").as("dup_ok"),
        ($"lang" === "en").cast("long").as("lang_ok"),
        ($"n_tokens" >= MinTokens && $"n_tokens" <= MaxTokens)
          .cast("long").as("len_ok"),
        ($"stop_ratio" >= MinStopRatio).cast("long").as("quality_ok"),
        bucket.as("b"))
      .select(
        $"doc_id", $"dup_ok", $"lang_ok", $"len_ok", $"quality_ok",
        ($"dup_ok" === 1L && $"lang_ok" === 1L && $"len_ok" === 1L &&
          $"quality_ok" === 1L).cast("long").as("keep"),
        when($"b" === SplitBuckets - 1, "test")
          .when($"b" === SplitBuckets - 2, "val")
          .otherwise("train").as("split"))
  }

  /** J7 — the CROSS-MODAL training-set manifest (round-13 verdict #3):
    * [[trainsetManifest]]'s text gates PLUS the image near-dup gate — a
    * document is kept only if it is ALSO its image cluster's canonical
    * (the `j5_phash_groups` decision: converged CC over the perceptual-
    * hash hamming graph, canonical = min doc_id). The text-only manifest
    * keeps a doc whose image is a re-encode of another's as long as its
    * TEXT is unique; a multimodal pipeline ships the conjunction, since a
    * duplicated image leaks across train/eval exactly like duplicated
    * text. One row per doc: every text gate, `img_ok`, the composed keep,
    * and the same md5 split.
    *
    * Scale posture: one extra doc_id-grain join against the image cluster
    * labels the image family already bounds (banded hamming candidates,
    * cap-gated, converged CC) — no new shuffle grain. `imgGroups` is the
    * image-cluster frame (`j5_phash_groups`). */
  def trainsetManifestMm(docs: DataFrame, groups: DataFrame,
                         imgGroups: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val img = imgGroups.select($"doc_id", $"is_canonical".as("img_ok"))
    trainsetManifest(docs, groups)
      .join(img, Seq("doc_id"))
      .select($"doc_id", $"dup_ok", $"lang_ok", $"len_ok", $"quality_ok",
        $"img_ok",
        ($"keep" === 1L && $"img_ok" === 1L).cast("long").as("keep"),
        $"split")
  }

  /** J7 — SPLIT-LEAKAGE audit (round 14): near-duplicate clusters whose
    * members straddle the train/val/test split — the contamination a
    * pipeline ships when it splits BEFORE deduplicating (a val/test doc
    * with a near-duplicate in train leaks the answer; the published
    * dedup-then-split ordering exists exactly for this). One row per
    * multi-member cluster: member count, per-split counts, and the leak
    * verdict (members in more than one split). The audit composes two
    * graded kernels — the near-dup clusters and the manifest's md5
    * split — so it costs one cluster-grain aggregate over frames the
    * dedup family already bounds.
    *
    * The deterministic md5 split makes the audit's finding REAL, not an
    * artifact: the split is independent of content, so any near-dup
    * cluster with >= 2 members has a (1 - sum(p_s^2))-ish chance of
    * straddling — on the harness corpus leaks exist at every SF, and the
    * audit is the query a pipeline runs to QUANTIFY what enforcing
    * canonical-only keep (j7_trainset's dup_ok gate) prevents. */
  def splitLeakAudit(docs: DataFrame, groups: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bucket = pmod(Dedup.md5Hash32(SplitSeed, $"doc_id".cast("string")),
      lit(SplitBuckets))
    groups.select($"doc_id", $"cluster_id")
      .withColumn("split",
        when(bucket === SplitBuckets - 1, "test")
          .when(bucket === SplitBuckets - 2, "val")
          .otherwise("train"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum(when($"split" === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when($"split" === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when($"split" === "test", 1L).otherwise(0L)).as("n_test"),
        countDistinct($"split").as("n_splits"))
      .filter($"n_members" >= 2L)
      .select($"cluster_id", $"n_members", $"n_train", $"n_val", $"n_test",
        ($"n_splits" > 1L).cast("long").as("leak"))
  }

  /** J7 — the INGEST-gate AUDIT (round 15): one incoming batch run
    * through the THREE standing dedup modalities a nightly ingest job
    * consults — exact text hash against the corpus, the geometric
    * sliced-Bloom line filter, and the LSH near-dup probe — with per-doc
    * attribution: each gate's own verdict, the first gate that fires
    * (exact → bloom → near_dup, the cheap-to-expensive production
    * order), and the final keep. The incremental complement of
    * [[curationFunnel]]'s whole-corpus accounting: the funnel audits a
    * standing corpus; this audits a batch against standing STATE. Every
    * verdict is the graded kernel's own (no new decision logic), and the
    * exact→bloom no-false-negative law (an exact duplicate's lines are
    * all standing, so the line filter must also fire) becomes a pinned
    * cross-modality invariant.
    *
    * 100 TB posture: the exact gate is one hash semi-join, the other two
    * are the probes' own bounded plans; the audit adds two doc-grain
    * equi-joins at the batch grain. `slicePos` is the standing sliced-Bloom
    * position set and `build` the whole-corpus [[Dedup.shingleBands]]
    * pair. */
  def ingestAudit(docs: DataFrame, slicePos: DataFrame,
                  build: (DataFrame, DataFrame), mod: Int = 10): DataFrame =
    auditFrom(ingestGateVerdicts(docs, build, batchMembers(docs, slicePos, mod), mod))

  /** The batch carve's (doc_id, line) rows that are members of the
    * standing sliced filter `slicePos` ([[Dedup.bloomScaleMembers]]). */
  private def batchMembers(docs: DataFrame, slicePos: DataFrame, mod: Int): DataFrame = {
    import docs.sparkSession.implicits._
    gateMembers(docs.filter($"doc_id" % mod === 0), slicePos)
  }

  private def gateMembers(bDocs: DataFrame, slPos: DataFrame): DataFrame =
    Dedup.bloomScaleMembers(Dedup.bloomDocLines(bDocs), slPos, Dedup.BloomSliceCap0)

  /** The three-gate verdict frame of [[ingestAudit]] with the standing
    * states derived in-query from the corpus carve — the recompute form
    * shared by the audit, the five-modality audit ([[ingestAuditMm]]),
    * and the composed upserts. `build` is the whole-corpus
    * [[Dedup.shingleBands]] pair (the upserts' write legs read the same
    * signatures) and `members` the batch's [[batchMembers]]. */
  private[graft] def ingestGateVerdicts(docs: DataFrame,
                                        build: (DataFrame, DataFrame),
                                        members: DataFrame,
                                        mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val corpus = docs.filter($"doc_id" % mod =!= 0)
    val batch = docs.filter($"doc_id" % mod === 0)
    val (sa, bandSig) = build
    val h0 = corpus.select(md5($"text".cast("binary")).as("h")).distinct()
    gateVerdicts(batch, sa, bandSig,
      bandSig.filter($"doc_id" % mod =!= 0), sa.filter($"doc_id" % mod =!= 0),
      members, h0)
  }

  /** J7 — the FIVE-modality ingest audit (round-17 verdict #1, widening
    * [[ingestAudit]] to every production gate the corpus funnel already
    * establishes): the three lexical gates (exact hash, sliced Bloom,
    * text LSH) PLUS the semantic gate (the batch vector probes the
    * PERSISTED frozen-quantizer state — [[graft.ext.Similarity
    * .semGateVerdicts]], self-excluded since the batch carve overlaps the
    * standing id range) and the image-canonical gate (the doc is not its
    * perceptual-hash cluster's canonical — `j5_phash_groups`' decision,
    * the `j7_trainset_mm` gate at the ingest grain). Per-doc attribution:
    * each gate's own columns, the first gate that fires in
    * cheap-to-expensive production order (exact → bloom → near_dup →
    * semantic → image), and the composed keep — a doc ANY gate drops is
    * not kept, so (with [[ingestUpsertMm]]) it enters NO standing state.
    *
    * 100 TB posture: the three lexical gates' own bounded plans + the
    * semantic family's |batch| × √N state probe + one doc-grain join
    * against the bounded image cluster labels — two extra doc-grain
    * equi-joins over [[ingestAudit]]'s bill. */
  def ingestAuditMm(docs: DataFrame, semVerdicts: DataFrame,
                    imgGroups: DataFrame, slicePos: DataFrame,
                    build: (DataFrame, DataFrame), mod: Int = 10): DataFrame =
    auditMmFrom(ingestGateVerdicts(docs, build, batchMembers(docs, slicePos, mod), mod),
      semVerdicts, imgGroups)

  /** The five-gate presentation over [[gateVerdicts]]' columns — the ONE
    * place the composed five-modality rule is spelled (the audit and its
    * persisted-state read share it, the verdict-#6 discipline): the
    * semantic and image legs join onto the lexical verdicts, first-firing
    * gate in cheap-to-expensive production order, composed keep. */
  private def auditMmFrom(v: DataFrame, semVerdicts: DataFrame,
                          imgGroups: DataFrame): DataFrame = {
    import v.sparkSession.implicits._
    val sem = semVerdicts.select($"vec_id".as("doc_id"),
      $"cell_id".as("sem_cell"), $"best_match".as("sem_match"),
      $"best_cos_e6".as("sem_cos_e6"), (lit(1L) - $"kept").as("sem_drop"))
    val img = imgGroups.select($"doc_id", $"cluster_id".as("img_cluster"),
      ($"cluster_id" =!= $"doc_id").cast("long").as("img_drop"))
    // LEFT join the sem side: a doc with no embedding row (the harness's
    // larger SFs carry fewer vectors than docs, and a real corpus embeds
    // lazily) has nothing to semantically dedup — that gate passes
    v.join(sem, Seq("doc_id"), "left")
      .na.fill(-1L, Seq("sem_cell", "sem_match"))
      .na.fill(0L, Seq("sem_cos_e6", "sem_drop"))
      .join(img, Seq("doc_id"))
      .select($"doc_id", $"exact_dup", $"bloom_dup_frac_e6", $"bloom_drop",
        $"match_doc_id", $"jaccard_e6", $"neardup_drop",
        $"sem_cell", $"sem_match", $"sem_cos_e6", $"sem_drop",
        $"img_cluster", $"img_drop",
        when($"exact_dup" === 1L, "exact")
          .when($"bloom_drop" === 1L, "bloom")
          .when($"neardup_drop" === 1L, "near_dup")
          .when($"sem_drop" === 1L, "semantic")
          .when($"img_drop" === 1L, "image")
          .otherwise("kept").as("drop_stage"),
        (($"exact_dup" + $"bloom_drop" + $"neardup_drop" + $"sem_drop" +
          $"img_drop") === 0L).cast("long").as("kept"))
  }

  /** The audit presentation over [[gateVerdicts]]' columns: first-firing
    * gate in the cheap-to-expensive production order, composed keep. */
  private def auditFrom(v: DataFrame): DataFrame = {
    import v.sparkSession.implicits._
    v.select($"doc_id", $"exact_dup", $"bloom_dup_frac_e6", $"bloom_drop",
      $"match_doc_id", $"jaccard_e6", $"neardup_drop",
      when($"exact_dup" === 1L, "exact")
        .when($"bloom_drop" === 1L, "bloom")
        .when($"neardup_drop" === 1L, "near_dup")
        .otherwise("kept").as("drop_stage"),
      (($"exact_dup" + $"bloom_drop" + $"neardup_drop") === 0L)
        .cast("long").as("kept"))
  }

  /** J7 — the COMPOSED ingest-gate UPSERT (round-15 verdict #1, the
    * closure of the cross-modality read–probe–write loop): the nightly
    * job's WRITE step driven by [[ingestAudit]]'s production keep
    * (passes exact AND bloom AND near-dup) rather than each family's own
    * gate — a doc any gate drops enters NO standing state (ExtSpec pins
    * it). One normalized post-ingest state table:
    *
    *   - family = 'bloom': the sliced filter's (slice, position) rows —
    *     standing (is_new = 0) plus the positions of the composed-KEPT
    *     docs' non-member lines, rank-continued per the Almeida insert
    *     discipline (is_new = 1); k1 = slice, k2 = position.
    *   - family = 'lsh': the cap-gated band index — standing corpus rows
    *     (is_new = 0) plus the kept batch docs' band rows (is_new = 1);
    *     k1 = doc_id, k2 = band, (k3, k4) = the band's 2-row signature
    *     (the flattened [[graft.ext.Dedup.incrementalNearDupUpsert]]
    *     shape; RowsPerBand = 2 by the family's layout).
    *   - family = 'member': post-ingest corpus membership — standing
    *     corpus docs (is_new = 0) plus kept batch docs (is_new = 1);
    *     k1 = doc_id.
    *
    * Unused key columns carry -1 (typed sentinels keep the union schema
    * hashable). The per-family upserts (`j2_bloom_scale_upsert`,
    * `j2_incremental_upsert`, `j3_semdedup_inc_upsert`) stay as the
    * single-modality twins; this is the composition a production ingest
    * actually writes.
    *
    * 100 TB posture: the audit's own bounded plans feed one keep
    * semi-join per family; each leg is its single-modality upsert's
    * shape (bounded (slice, p) state, band-grain equi-joins, doc-grain
    * unions). */
  /** J7 — the composed audit from PERSISTED state tables (round-17
    * verdict #2, the `j2_incremental_state` convention applied to the
    * composed family): a nightly job READS its standing states from
    * tables, not from a session cache — the lexical band index + shingle
    * sets and the sliced-Bloom (line, slice) relation come from the SAME
    * per-family [[graft.ext.StateStore]] tables the single-modality state
    * forms maintain (shared builders [[graft.ext.Dedup.incStateTables]] /
    * [[graft.ext.Dedup.bloomStateTable]], so the composed read and the
    * per-family forms can never fork), and the exact-hash set is the
    * composed family's own write-once table. Per-run cost: shingle/sign
    * the BATCH (row-local), one band equi-join against the index table,
    * one line probe against the position table, one hash semi-join — it
    * scales with the batch while [[ingestAudit]]'s recompute form re-lines
    * and re-signs the corpus each run. Output is hash-identical to
    * [[ingestAudit]] (shared [[gateVerdicts]] tail + shared oracle;
    * batch-only signatures are row-local, so they equal the full build's
    * batch slice — the incrementalNearDupState argument; ExtSpec pins
    * row equality). */
  def ingestAuditState(s: org.apache.spark.sql.SparkSession, key: String,
                       docs: DataFrame, mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val Seq(corpIdx, corpSh) = Dedup.incStateTables(s, key, docs, mod)
    val sliceLines = Dedup.bloomStateTable(s, key, docs, mod)
    val Seq(hSet) = StateStore.tables(s, "graft_j7_ingeststate", key,
      Seq("exact_hashes")) {
      Seq(docs.filter($"doc_id" % mod =!= 0)
        .select(md5($"text".cast("binary")).as("h")).distinct())
    }
    val batch = docs.filter($"doc_id" % mod === 0)
    val (saN, bandN) = Dedup.shingleBands(batch)
    auditFrom(gateVerdicts(batch, saN, bandN,
      corpIdx.select($"doc_c".as("doc_id"), $"band", $"sig"),
      corpSh.select($"doc_c".as("doc_id"), $"shb".as("dshings")),
      gateMembers(batch, graft.Pinned.track(Dedup.bloomSlicePositions(sliceLines))),
      hSet))
  }

  /** J7 — the FIVE-gate audit from PERSISTED state tables (the
    * [[ingestAuditState]] convention completed across all five
    * modalities): the lexical three gates read the same per-family
    * [[graft.ext.StateStore]] tables as the three-gate state form, the
    * semantic gate probes the persisted frozen-quantizer state (the
    * caller's `semVerdicts` — [[graft.ext.Similarity.semGateVerdicts]]
    * is table-backed), and the image-canonical gate reads the PERSISTED
    * cluster-label table ([[graft.ext.Multimodal.imgGroupsTable]]) —
    * previously the one leg the composed audit consulted from a session
    * cache. Hash-identical to [[ingestAuditMm]] (shared [[auditMmFrom]]
    * presentation + shared oracle; ExtSpec pins row equality). */
  def ingestAuditStateMm(s: org.apache.spark.sql.SparkSession, key: String,
                         docs: DataFrame, semVerdicts: DataFrame,
                         imgGroups: DataFrame, mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val Seq(corpIdx, corpSh) = Dedup.incStateTables(s, key, docs, mod)
    val sliceLines = Dedup.bloomStateTable(s, key, docs, mod)
    val Seq(hSet) = StateStore.tables(s, "graft_j7_ingeststate", key,
      Seq("exact_hashes")) {
      Seq(docs.filter($"doc_id" % mod =!= 0)
        .select(md5($"text".cast("binary")).as("h")).distinct())
    }
    val img = Multimodal.imgGroupsTable(s, key, imgGroups)
    val batch = docs.filter($"doc_id" % mod === 0)
    val (saN, bandN) = Dedup.shingleBands(batch)
    auditMmFrom(gateVerdicts(batch, saN, bandN,
      corpIdx.select($"doc_c".as("doc_id"), $"band", $"sig"),
      corpSh.select($"doc_c".as("doc_id"), $"shb".as("dshings")),
      gateMembers(batch, graft.Pinned.track(Dedup.bloomSlicePositions(sliceLines))),
      hSet), semVerdicts, img)
  }

  /** J7 — night 2's audit from the PERSISTED POST-NIGHT-1 state v1
    * (round-17 verdict #2's parenthetical: the composed v0 is
    * `j7_ingest_state`'s table set; this persists v1 = v0 advanced by
    * night 1's composed-kept docs — the table the SECOND night's job
    * actually reads): the [[ingestNight1]] derivation runs ONCE inside
    * the [[graft.ext.StateStore]] builder and its four advanced
    * artifacts are written as tables — the (ungated) v1 band index, the
    * v1 member shingle sets, the v1 (line, slice) relation, and the v1
    * exact-hash set; the graded query signs ONLY batch 2 and probes the
    * tables through the shared [[gateVerdicts]] tail. Hash-identical to
    * the night-2 verdicts inside [[ingestUpsert2]] (same states, same
    * tail; the upsert2 oracle's own step-2 relations grade it), so the
    * in-query loop and the persisted-state read can never disagree
    * about night 2. `night1` is evaluated only when the tables are not
    * yet written. */
  def ingestAuditState2(s: org.apache.spark.sql.SparkSession, key: String,
                        docs: DataFrame, night1: => IngestNight1,
                        mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val Seq(idx1, memberSh1, sl1, h1) = StateStore.tables(s,
      "graft_j7_ingeststate2", key,
      Seq("band_index", "member_shingles", "slice_lines", "exact_hashes")) {
      val n1 = night1
      val b1 = docs.filter($"doc_id" % (2L * mod) === mod.toLong)
      Seq(
        n1.corpIdx.unionByName(
          n1.bandSig.join(n1.kept1, Seq("doc_id"), "left_semi")),
        n1.sa.filter($"doc_id" % mod =!= 0)
          .unionByName(n1.sa.join(n1.kept1, Seq("doc_id"), "left_semi")),
        n1.sl0.select($"line", $"slice").unionByName(n1.ns1),
        n1.h0.unionByName(b1.join(n1.kept1, Seq("doc_id"), "left_semi")
          .select(md5($"text".cast("binary")).as("h"))).distinct())
    }
    val b2 = docs.filter($"doc_id" % (2L * mod) === 0L)
    val (sa2, band2) = Dedup.shingleBands(b2)
    auditFrom(gateVerdicts(b2, sa2, band2, idx1, memberSh1,
      gateMembers(b2, graft.Pinned.track(Dedup.bloomSlicePositions(sl1))), h1))
  }

  /** `sliceLines`/`slicePos` are the standing sliced-Bloom state and
    * `build` the whole-corpus [[Dedup.shingleBands]] pair; the audit and
    * the write legs share all three. */
  def ingestUpsert(docs: DataFrame, sliceLines: DataFrame, slicePos: DataFrame,
                   build: (DataFrame, DataFrame), mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    // ONE shared signature build, ONE tracked standing position set, ONE
    // tracked keep set: the un-shared form evaluated the full audit chain
    // once per write leg (three times) and built the positions and
    // signatures separately for the audit and the legs — the round-17
    // optimization's headline recompute waste (guide §1.2 step 1). ONE
    // tracked membership probe (round 18): the bloom gate and the bloom
    // write leg probe the same batch lines against the same positions.
    val members = graft.Pinned.track(batchMembers(docs, slicePos, mod))
    val kept = graft.Pinned.track(
      auditFrom(ingestGateVerdicts(docs, build, members, mod))
        .filter($"kept" === 1L).select($"doc_id"))
    upsertLegs(docs, kept, mod, sliceLines, slicePos, build, members)
  }

  /** The three lexical write legs under a CALLER-SUPPLIED keep set — the
    * normalized (family ∈ {bloom, lsh, member}, k1..k4, is_new) state
    * union shared by [[ingestUpsert]] (three-gate keep) and
    * [[ingestUpsertMm]] (five-gate keep + the sem leg on top), over the
    * caller's standing state, signature build and batch membership rows
    * (see [[ingestUpsert]]). */
  private def upsertLegs(docs: DataFrame, kept: DataFrame, mod: Int,
                         sliceLines: DataFrame, slicePos: DataFrame,
                         build: (DataFrame, DataFrame),
                         members: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val neg = lit(-1L)
    // bloom leg: the single-step upsert with the composed keep injected
    val batch = Dedup.bloomDocLines(docs.filter($"doc_id" % mod === 0))
    val newPos = Dedup.bloomSlicePositions(
        Dedup.bloomScaleIngestNewSlices(sliceLines, batch, members, kept))
      .join(slicePos, Seq("slice", "p"), "left_anti")
    val bloom = slicePos.withColumn("is_new", lit(0L))
      .unionByName(newPos.withColumn("is_new", lit(1L)))
      .select(lit("bloom").as("family"), $"slice".as("k1"), $"p".as("k2"),
        neg.as("k3"), neg.as("k4"), $"is_new")
    // lsh leg: band index written under the composed keep
    val lsh = Dedup.bandIndexUpsert(build._2, kept, mod)
      .select(lit("lsh").as("family"), $"doc_id".as("k1"), $"band".as("k2"),
        $"sk0".as("k3"), $"sk1".as("k4"), $"is_new")
    // membership leg: the post-ingest corpus roster
    val mem = docs.filter($"doc_id" % mod =!= 0)
      .select($"doc_id".as("k1")).withColumn("is_new", lit(0L))
      .unionByName(kept.select($"doc_id".as("k1")).withColumn("is_new", lit(1L)))
      .select(lit("member").as("family"), $"k1", neg.as("k2"),
        neg.as("k3"), neg.as("k4"), $"is_new")
    bloom.unionByName(lsh).unionByName(mem)
  }

  /** J7 — the FIVE-gate composed ingest UPSERT (round-17 verdict #1's
    * write step): [[upsertLegs]]' three lexical state families written
    * under [[ingestAuditMm]]'s five-modality keep, PLUS the semantic
    * member index as a fourth family — standing kept members (is_new = 0)
    * and the kept batch docs' vectors in their assigned cells (is_new =
    * 1; zero-norm singletons carry cell -1, the roster-not-candidate
    * convention of the single-modality sem upsert). A doc ANY of the five
    * gates drops enters NO state in ANY family (the ExtSpec pin, now
    * extended to the sem member index). The image family deliberately
    * contributes no state rows: its canonical is a full-pass clustering
    * artifact, not an incremental index — [[retract]] is where its
    * election is maintained.
    *
    * 100 TB posture: the audit's own bounded plans feed one keep
    * semi-join per family; the sem leg adds a doc-grain semi-join against
    * the bounded kept-member relation. */
  def ingestUpsertMm(docs: DataFrame, semKeptM: DataFrame,
                     semVerdicts: DataFrame, imgGroups: DataFrame,
                     sliceLines: DataFrame, slicePos: DataFrame,
                     build: (DataFrame, DataFrame), mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val neg = lit(-1L)
    // ONE shared signature build + standing position set (the
    // ingestUpsert discipline), and the five-gate keep materialized once —
    // it is consumed by all four legs
    val members = graft.Pinned.track(batchMembers(docs, slicePos, mod))
    val kept = graft.Pinned.track(
      auditMmFrom(ingestGateVerdicts(docs, build, members, mod), semVerdicts,
        imgGroups)
        .filter($"kept" === 1L).select($"doc_id"))
    val sem = semKeptM.select($"mid".as("k1"), $"cid".as("k2"))
      .withColumn("is_new", lit(0L))
      .unionByName(semVerdicts
        .join(kept.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
        .select($"vec_id".as("k1"), $"cell_id".as("k2"))
        .withColumn("is_new", lit(1L)))
      .select(lit("sem").as("family"), $"k1", $"k2", neg.as("k3"),
        neg.as("k4"), $"is_new")
    upsertLegs(docs, kept, mod, sliceLines, slicePos, build, members)
      .unionByName(sem)
  }

  /** J7 — the COMPOSED ingest loop over TWO consecutive nights
    * (`j7_ingest_upsert2`, round 16 — the capstone product of the
    * round's two axes: [[ingestUpsert]] composes the three dedup
    * modalities at ONE ingest; the upsert2 family composes ONE modality
    * over consecutive ingests; this composes BOTH): batch 1
    * (doc_id % 2·`mod` == `mod`) runs the full three-gate audit (exact ∧
    * sliced-Bloom ∧ LSH) against the corpus states v0 and its
    * composed-KEPT docs advance ALL THREE states; batch 2 (% 2·mod == 0)
    * audits against the RESULTING v1 — its exact gate sees batch-1 kept
    * texts, its line filter sees batch-1 inserted lines, its LSH probe
    * sees batch-1 band rows (cap re-gated) and verifies against batch-1
    * shingle sets — so ANY modality's near-miss of a batch-1 insert
    * drops across the boundary (ExtSpec pins the exact-text and
    * permuted-line-Bloom cases on crafted fixtures). One normalized
    * post-ingest state table (family ∈ {bloom, lsh, member}, k1..k4)
    * with `batch_no` ∈ {0 standing, 1, 2}.
    *
    * 100 TB posture: each step is [[ingestUpsert]]'s bill (the gate
    * probes' own bounded plans + one keep semi-join per family); state
    * position sets and the kept sets materialize once per step
    * (tracked). */
  /** The standing state after night 1's composed ingest — what night 2's
    * job READS. Members are [[ingestNight1]]'s staged artifacts: the
    * shared lexical build (shingle sets, band rows), the v0 states
    * (cap-gated band index, bloom (line, slice) + position set, exact
    * hash set), night 1's composed keep, and its bloom inserts. `mem1`
    * is night 1's staged batch-1 line-membership probe against the v0
    * positions, shared by the night-1 gate and write leg. */
  final case class IngestNight1(sl0: DataFrame, sa: DataFrame,
                                bandSig: DataFrame, corpIdx: DataFrame,
                                pos0: DataFrame, h0: DataFrame,
                                kept1: DataFrame, ns1: DataFrame,
                                pos1new: DataFrame, mem1: DataFrame) {
    /** Night 1 releases only what it creates: the inputs it was handed
      * (`sl0`, `sa`, `bandSig`, `pos0`) belong to their callers. */
    def frames: Seq[DataFrame] = Seq(corpIdx, h0, kept1, ns1, pos1new, mem1)
  }

  private def gateIdx(idx: DataFrame): DataFrame = {
    import idx.sparkSession.implicits._
    val ok = idx.groupBy($"band", $"sig").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" <= Dedup.BucketCap).select($"band", $"sig")
    idx.join(ok, Seq("band", "sig"), "left_semi")
  }

  /** One batch's per-doc gate verdicts against EXPLICIT standing states —
    * the ONE place the composed three-gate rule lives (round-16 verdict
    * What's-wrong #1: the audit and the keep previously re-spelled the
    * same arithmetic): feeds the graded audit ([[ingestAudit]] and its
    * state-table twin), the composed write step (via [[composedKeep]] /
    * [[ingestUpsert]]), and both nights of [[ingestUpsert2]].
    *
    * Inputs: `bDocs` — the batch rows (doc_id, text); `sa`/`bandSig` — a
    * shared shingle/signature build covering at least the batch docs;
    * `idxStored` — the standing band index, UNgated (the bucket cap
    * re-applies here at probe time — the grown-bucket re-gate the upsert2
    * family relies on; re-gating an already-gated index is the identity);
    * `memberSh` — standing members' shingle sets; `members` — the batch's
    * sliced-Bloom membership rows against the standing position set
    * ([[gateMembers]]; the composed upserts' write legs read the SAME
    * frame, guide §1.2 step 1); `hSet` — the standing distinct
    * text-hash set (h). One row per batch doc, every gate's own verdict
    * columns. */
  private[graft] def gateVerdicts(bDocs: DataFrame, sa: DataFrame,
                                  bandSig: DataFrame, idxStored: DataFrame,
                                  memberSh: DataFrame, members: DataFrame,
                                  hSet: DataFrame): DataFrame = {
    import bDocs.sparkSession.implicits._
    val bIds = bDocs.select($"doc_id")
    val ex = bDocs.select($"doc_id", md5($"text".cast("binary")).as("h"))
      .join(hSet.withColumn("e", lit(1L)), Seq("h"), "left")
      .select($"doc_id", coalesce($"e", lit(0L)).as("exact_dup"))
    val bLines = Dedup.bloomDocLines(bDocs)
    val bl = bLines
      .join(members.withColumn("bh", lit(1)), Seq("doc_id", "line"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nl"),
        sum(coalesce($"bh", lit(0))).cast("long").as("nd"))
      .select($"doc_id",
        expr("(nd * 1000000) div greatest(nl, 1)").as("bloom_dup_frac_e6"))
      .withColumn("bloom_drop",
        ($"bloom_dup_frac_e6" >= Dedup.BloomDropE6).cast("long"))
    val lx = Dedup.incProbeTail(bIds,
      bandSig.join(bIds, Seq("doc_id"), "left_semi")
        .select($"doc_id".as("doc_n"), $"band", $"sig"),
      sa.join(bIds, Seq("doc_id"), "left_semi")
        .select($"doc_id".as("doc_n"), $"dshings".as("sha")),
      gateIdx(idxStored).select($"doc_id".as("doc_c"), $"band", $"sig"),
      memberSh.select($"doc_id".as("doc_c"), $"dshings".as("shb")),
      Dedup.IncrementalDropE6)
      .select($"doc_id", $"match_doc_id", $"jaccard_e6",
        ($"verdict" === "drop").cast("long").as("neardup_drop"))
    bIds.join(ex, Seq("doc_id")).join(bl, Seq("doc_id")).join(lx, Seq("doc_id"))
      .select($"doc_id", $"exact_dup", $"bloom_dup_frac_e6", $"bloom_drop",
        $"match_doc_id", $"jaccard_e6", $"neardup_drop")
  }

  /** One ingest step's composed keep: a doc is kept iff NO gate fires —
    * [[gateVerdicts]] reduced to the surviving ids. */
  private def composedKeep(bDocs: DataFrame, sa: DataFrame, bandSig: DataFrame,
                           idxStored: DataFrame, memberSh: DataFrame,
                           members: DataFrame, hSet: DataFrame): DataFrame = {
    import bDocs.sparkSession.implicits._
    gateVerdicts(bDocs, sa, bandSig, idxStored, memberSh, members, hSet)
      .filter($"exact_dup" === 0L && $"bloom_drop" === 0L &&
        $"neardup_drop" === 0L)
      .select($"doc_id")
  }

  /** Night 1 of the composed loop over the v0 states `sl0`/`pos0` and the
    * whole-corpus [[Dedup.shingleBands]] pair `build`: batch 1's composed
    * keep and bloom inserts, each eagerly staged
    * ([[graft.Pinned.stageEager]]) in dependency order — these frames are
    * referenced up to four times each by night 2's chains, and
    * persisted-with-lineage intermediates at that depth blow the plan
    * DESCRIPTION up multiplicatively, the documented Pinned.stage
    * rationale: a run without staging generated a 196-MILLION-character
    * plan string. */
  def ingestNight1(docs: DataFrame, sl0: DataFrame, pos0: DataFrame,
                   build: (DataFrame, DataFrame), mod: Int = 10): IngestNight1 = {
    import docs.sparkSession.implicits._
    val corpus = docs.filter($"doc_id" % mod =!= 0)
    val b1 = docs.filter($"doc_id" % (2L * mod) === mod.toLong)
    val (sa, bandSig) = build
    // corpIdx, h0 and mem1 are mutually independent given the shared
    // build/position leaves, and each stage is an EAGER
    // materialization — overlap them from a small thread pool (guide
    // §2.6: actions are only sequential because the driver calls them
    // sequentially; concurrent jobs back-fill each other's task tails).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val (corpIdx, h0, mem1) =
      try {
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val corpIdxF = scala.concurrent.Future(
          graft.Pinned.stageEager(gateIdx(bandSig.filter($"doc_id" % mod =!= 0))))(ec)
        val h0F = scala.concurrent.Future(
          graft.Pinned.stageEager(corpus.select(md5($"text".cast("binary")).as("h")).distinct()))(ec)
        // ONE staged batch-1 membership probe: the night-1 gate
        // (composedKeep's bloom leg) and write leg (the non-member
        // anti-join inside bloomScaleIngestNewSlices) evaluate the same
        // per-line digest probe
        val mem1F = scala.concurrent.Future(graft.Pinned.stageEager(gateMembers(b1, pos0)))(ec)
        import scala.concurrent.duration.Duration
        (scala.concurrent.Await.result(corpIdxF, Duration.Inf),
         scala.concurrent.Await.result(h0F, Duration.Inf),
         scala.concurrent.Await.result(mem1F, Duration.Inf))
      } finally pool.shutdown()
    val kept1 = graft.Pinned.stageEager(composedKeep(b1, sa, bandSig, corpIdx,
      sa.filter($"doc_id" % mod =!= 0), mem1, h0))
    val ns1 = graft.Pinned.stageEager(Dedup.bloomScaleIngestNewSlices(
      sl0, Dedup.bloomDocLines(b1), mem1, kept1))
    val pos1new = graft.Pinned.stageEager(Dedup.bloomSlicePositions(ns1)
      .join(pos0, Seq("slice", "p"), "left_anti"))
    IngestNight1(sl0, sa, bandSig, corpIdx, pos0, h0, kept1, ns1, pos1new,
      mem1)
  }

  def ingestUpsert2(docs: DataFrame, night1: IngestNight1,
                    mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val neg = lit(-1L)
    val corpus = docs.filter($"doc_id" % mod =!= 0)
    val b1 = docs.filter($"doc_id" % (2L * mod) === mod.toLong)
    val b2 = docs.filter($"doc_id" % (2L * mod) === 0L)
    import night1._
    // v1 states
    val sl1 = sl0.select($"line", $"slice").unionByName(ns1)
    val sp1 = pos0.unionByName(pos1new)
    val b1KeptBands = bandSig.join(kept1, Seq("doc_id"), "left_semi")
    val idx1 = corpIdx.unionByName(b1KeptBands)
    val memberSh1 = sa.filter($"doc_id" % mod =!= 0)
      .unionByName(sa.join(kept1, Seq("doc_id"), "left_semi"))
    val h1 = h0.unionByName(b1.join(kept1, Seq("doc_id"), "left_semi")
      .select(md5($"text".cast("binary")).as("h"))).distinct()
    // step 2 against v1 — ONE tracked batch-2 membership probe shared by
    // night 2's gate and write leg (the night-1 discipline, round 18)
    val mem2 = graft.Pinned.track(gateMembers(b2, sp1))
    val kept2 = graft.Pinned.track(
      composedKeep(b2, sa, bandSig, idx1, memberSh1, mem2, h1))
    val ns2 = Dedup.bloomScaleIngestNewSlices(sl1, Dedup.bloomDocLines(b2),
      mem2, kept2)
    val pos2new = Dedup.bloomSlicePositions(ns2)
      .join(sp1, Seq("slice", "p"), "left_anti")
    // normalized union
    def bloomRows(df: DataFrame, n: Long) =
      df.select(lit("bloom").as("family"), $"slice".as("k1"), $"p".as("k2"),
        neg.as("k3"), neg.as("k4"), lit(n).as("batch_no"))
    def lshRows(df: DataFrame, n: Long) =
      df.select(lit("lsh").as("family"), $"doc_id".as("k1"),
        $"band".cast("long").as("k2"), $"sig.k0".as("k3"), $"sig.k1".as("k4"),
        lit(n).as("batch_no"))
    def memRows(ids: DataFrame, n: Long) =
      ids.select(lit("member").as("family"), $"doc_id".as("k1"), neg.as("k2"),
        neg.as("k3"), neg.as("k4"), lit(n).as("batch_no"))
    bloomRows(pos0, 0L)
      .unionByName(bloomRows(pos1new, 1L))
      .unionByName(bloomRows(pos2new, 2L))
      .unionByName(lshRows(corpIdx, 0L))
      .unionByName(lshRows(b1KeptBands, 1L))
      .unionByName(lshRows(bandSig.join(kept2, Seq("doc_id"), "left_semi"), 2L))
      .unionByName(memRows(corpus.select($"doc_id"), 0L))
      .unionByName(memRows(kept1, 1L))
      .unionByName(memRows(kept2, 2L))
  }

  /** [[retract]] takedown carve: standing docs with
    * doc_id % [[RetractMod]] == [[RetractRes]] are removed. 11 mod 25
    * hits only ids ≡ 1 or 6 (mod 10) — always inside the lexical
    * families' standing corpus (doc_id % 10 != 0) — and removes winners
    * of multi-member image clusters at every harness SF, so the
    * re-election path is exercised. */
  val RetractMod = 25L
  val RetractRes = 11L

  /** J7 — STATE RETRACTION (round-17 verdict #3): the takedown batch a
    * GDPR/DMCA request sends — remove a set of standing documents from
    * EVERY maintained dedup state, and emit the post-retraction composed
    * state. One normalized row per surviving state entry, family ∈
    *
    *   - `member`: the corpus roster minus the removed docs (k1 = doc_id);
    *   - `lsh`: the cap-gated band index minus the removed docs' rows
    *     (k1 = doc_id, k2 = band, k3/k4 = signature). Removal only
    *     DELETES rows: a bucket the cap gated out stays out even if the
    *     removal shrank it back under the cap — gates re-apply on the
    *     next full pass, the family's standing convention;
    *   - `sem`: the kept-member index minus the removed docs (k1 =
    *     vec_id, k2 = cell). Near-set survivors whose canonical was
    *     removed are NOT re-elected here — the semantic canonical is the
    *     full clustering's artifact and retrains with the quantizer;
    *   - `bloom`: the filter REBUILT from the persisted (line, slice)
    *     relation minus the retired lines (the Bloom family cannot
    *     delete by construction — the state table is exactly what makes
    *     the rebuild possible without re-ranking the corpus). A line is
    *     retired only when NO surviving doc carries it; surviving lines
    *     keep their slice, so the rebuild is one position pass over the
    *     surviving line-state (k1 = slice, k2 = position) and has ZERO
    *     false negatives on surviving lines by construction (ExtSpec
    *     probes it);
    *   - `img`: the keep-best election RE-RUN over each cluster's
    *     surviving members (k1 = cluster_id, k2 = the new best doc) — a
    *     cluster whose winner was removed promotes its next-best member
    *     (the [[graft.ext.Multimodal.keepBestImages]] key: max pixel
    *     area, ties to highest bytes-per-pixel, then min doc_id).
    *     Cluster LABELS stay frozen from the standing clustering — a
    *     removed bridge doc can in reality split a component, and that
    *     re-labeling belongs to the next full clustering pass.
    *
    * Each family retracts from ITS OWN standing population (lexical/
    * bloom: doc_id % mod != 0; sem: the oldest 90% of the id range; img:
    * the whole clustered corpus) — the removed set is the same carve
    * intersected with each.
    *
    * 100 TB posture: every leg is one anti-join of a bounded state
    * relation against the (tiny, broadcastable) takedown set; the bloom
    * rebuild is one line-grain semi-join + the position pass the family
    * already bounds; the img re-election is the bounded cluster-grain
    * argmin. */
  def retract(docs: DataFrame, imgGroups: DataFrame, decoded: DataFrame,
              semKeptM: DataFrame, sliceLines: DataFrame,
              mod: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val neg = lit(-1L)
    val corpus = docs.filter($"doc_id" % mod =!= 0)
    val removed = docs.filter($"doc_id" % RetractMod === RetractRes)
      .select($"doc_id")
    val surviving = corpus.join(removed, Seq("doc_id"), "left_anti")
    val mem = surviving
      .select(lit("member").as("family"), $"doc_id".as("k1"), neg.as("k2"),
        neg.as("k3"), neg.as("k4"))
    // lsh: the cap-gated standing index minus the removed docs' rows
    val (_, corpB) = Dedup.shingleBands(corpus)
    val lsh = gateIdx(corpB)
      .join(removed, Seq("doc_id"), "left_anti")
      .select(lit("lsh").as("family"), $"doc_id".as("k1"),
        $"band".cast("long").as("k2"), $"sig.k0".as("k3"), $"sig.k1".as("k4"))
    // sem: kept members minus removed
    val sem = semKeptM
      .join(removed.select($"doc_id".as("mid")), Seq("mid"), "left_anti")
      .select(lit("sem").as("family"), $"mid".as("k1"), $"cid".as("k2"),
        neg.as("k3"), neg.as("k4"))
    // bloom: rebuild from the (line, slice) state minus retired lines
    val survLines = Dedup.bloomDocLines(surviving).select($"line").distinct()
    val bloom = Dedup.bloomSlicePositions(
        sliceLines.select($"line", $"slice").join(survLines, Seq("line"), "left_semi"))
      .select(lit("bloom").as("family"), $"slice".as("k1"), $"p".as("k2"),
        neg.as("k3"), neg.as("k4"))
    // img: keep-best re-elected over each cluster's surviving members
    val img = Multimodal.keepBestImages(
        imgGroups.join(removed, Seq("doc_id"), "left_anti"), decoded)
      .select($"cluster_id", $"best_doc_id").distinct()
      .select(lit("img").as("family"), $"cluster_id".as("k1"),
        $"best_doc_id".as("k2"), neg.as("k3"), neg.as("k4"))
    mem.unionByName(lsh).unionByName(sem).unionByName(bloom).unionByName(img)
  }

  /** [[curationFunnel]] gate order — shared by the op and its oracle
    * generator so the two stage lists can never drift. */
  val FunnelStages: Seq[String] = Seq("exact_dedup", "near_dup", "image_dup",
    "language", "length", "quality", "decontam")

  /** [[curationFunnelFull]] gate order (round-14 verdict #4): the base
    * funnel plus the two graded gates the published pipelines put IN the
    * funnel — the Gopher A1.1 rule bundle ([[gopherGate]]) and the CCNet
    * perplexity gate ([[pplBuckets]] head+middle, tail dropped) — so the
    * data-card table covers EVERY graded gate. */
  val FunnelStagesFull: Seq[String] = FunnelStages ++ Seq("gopher", "ppl_head_mid")

  /** J7 — the CURATION FUNNEL (round 14): the data-card accounting table
    * every published pipeline ships — one row per gate with documents
    * in/out and surviving tokens under the PREFIX of gates applied in
    * order: corpus → exact dedup (md5-canonical) → text near-dup
    * canonical → image near-dup canonical → language → token-length band
    * → stopword-ratio floor → benchmark decontamination (the eval slice
    * itself leaves the train set here, by definition, along with any
    * train doc sharing a 13-gram with it). Every flag is a graded
    * kernel's verdict — the funnel adds NO new decision logic, only the
    * end-to-end attribution of where the corpus mass goes.
    *
    * Scale posture: the component flags are the bounded frames the gates
    * already produce; the funnel itself is one doc-grain join chain, one
    * aggregate to a single row, and a row-local explode to the 8-row
    * stage table. */
  def curationFunnel(docs: DataFrame, groups: DataFrame, imgGroups: DataFrame,
                     dec: DataFrame): DataFrame =
    funnelOver(docs, groups, imgGroups, extraFlags = None,
      extraCols = Nil, stages0 = FunnelStages, dec = dec)

  /** J7 — the FULL-gate funnel (round-14 verdict #4): [[curationFunnel]]
    * extended with the Gopher rule bundle and the CCNet perplexity gate
    * (head+middle kept, tail dropped — the Wenzek et al. deployment), so
    * the accounting table spans every graded gate in the repo. Both
    * added flags are the gates' own graded verdicts ([[gopherGate]]
    * `kept`, [[pplBuckets]] bucket <= 2) — the funnel still adds no
    * decision logic. Cost over the base funnel: one zero-shuffle map
    * pass (Gopher) and the lm-bits chain (bigram-grain shuffles, shared
    * with j7_ppl_buckets' own run via the session cache), one extra
    * doc-grain join each. */
  def curationFunnelFull(docs: DataFrame, groups: DataFrame,
                         imgGroups: DataFrame, dec: DataFrame,
                         ppl: DataFrame): DataFrame =
    funnelOver(docs, groups, imgGroups, extraFlags = Some(fullGateFlags(docs, ppl)),
      extraCols = Seq("gopher_ok", "ppl_ok"), stages0 = FunnelStagesFull,
      dec = dec)

  /** The FULL funnel's two extra gate flags: Gopher `kept` and the
    * [[pplBuckets]] head+middle verdict. */
  private def fullGateFlags(docs: DataFrame, ppl: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    gopherGate(docs).select($"doc_id", $"kept".as("gopher_ok"))
      .join(ppl.select($"doc_id", ($"bucket" <= 2L).cast("long").as("ppl_ok")),
        Seq("doc_id"))
  }

  /** J7 — per-gate MARGINAL attribution (round-14 verdict #7, the other
    * half of the data-card convention): the funnel's prefix accounting
    * charges each doc to the FIRST gate that drops it, which understates
    * gates late in the order; this table answers the ordering-free
    * question — for each gate, how many docs (and tokens) fail it while
    * passing every OTHER gate ("dropped by g alone" — the docs only a
    * change to g could save), next to the gate's raw failure count. Over
    * the FULL gate set, same graded verdicts, no new decision logic.
    *
    * 100 TB posture: the same one-pass flag frame as the funnels, a
    * row-local all-others-pass product per gate, ONE aggregate row,
    * row-local explode to the |gates| table. */
  def funnelMarginal(docs: DataFrame, groups: DataFrame,
                     imgGroups: DataFrame, dec: DataFrame,
                     ppl: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val (flags, flagCols) = funnelFlags(docs, groups, imgGroups,
      Some(fullGateFlags(docs, ppl)), Seq("gopher_ok", "ppl_ok"), dec)
    val aggs = flagCols.zipWithIndex.flatMap { case (c, i) =>
      val othersPass = flagCols.filter(_ != c).map(col).reduce(_ * _)
      Seq(
        sum(lit(1L) - col(c)).as(s"fail$i"),
        sum((lit(1L) - col(c)) * othersPass).as(s"alone$i"),
        sum((lit(1L) - col(c)) * othersPass * $"n_tokens").as(s"alonet$i"))
    }
    flags.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(FunnelStagesFull.zipWithIndex.map { case (nm, i) =>
        struct(lit(i.toLong).as("stage_no"), lit(nm).as("stage"),
          col(s"fail$i").as("docs_failing"),
          col(s"alone$i").as("docs_dropped_alone"),
          col(s"alonet$i").as("tokens_dropped_alone"))
      }: _*)).as("s"))
      .select($"s.*")
  }

  /** Shared funnel core: the base gate flags (exact/near-dup/image/lang/
    * length/quality/decontam), optional extra flag columns appended at
    * the tail, cumulative prefix flags, ONE aggregate row, and the
    * row-local explode to the stage table. */
  /** The per-doc gate-flag frame shared by the funnels and the marginal
    * attribution: (doc_id, n_tokens, one 0/1 column per gate). */
  private def funnelFlags(docs: DataFrame, groups: DataFrame,
                          imgGroups: DataFrame,
                          extraFlags: Option[DataFrame],
                          extraCols: Seq[String],
                          dec: DataFrame): (DataFrame, Seq[String]) = {
    import docs.sparkSession.implicits._
    val mm = trainsetManifestMm(docs, groups, imgGroups)
      .select($"doc_id", $"dup_ok", $"img_ok", $"lang_ok", $"len_ok", $"quality_ok")
    val eh = docs.select($"doc_id", md5($"text".cast("binary")).as("h"))
    val exactOk = eh
      .join(eh.groupBy($"h").agg(min($"doc_id").as("kid")), Seq("h"))
      .select($"doc_id", ($"doc_id" === $"kid").cast("long").as("exact_ok"))
    val contaminated = dec.select($"doc_id", $"contaminated")
    val flags0 = docs
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))
      .join(exactOk, Seq("doc_id"))
      .join(mm, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("decontam_ok",
        when($"doc_id" < EvalDocs, 0L)
          .otherwise(lit(1L) - coalesce($"contaminated", lit(0L))))
    val flags = extraFlags.fold(flags0)(e => flags0.join(e, Seq("doc_id")))
    (flags, Seq("exact_ok", "dup_ok", "img_ok", "lang_ok", "len_ok",
      "quality_ok", "decontam_ok") ++ extraCols)
  }

  private def funnelOver(docs: DataFrame, groups: DataFrame,
                         imgGroups: DataFrame,
                         extraFlags: Option[DataFrame],
                         extraCols: Seq[String],
                         stages0: Seq[String],
                         dec: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val (flags, flagCols) =
      funnelFlags(docs, groups, imgGroups, extraFlags, extraCols, dec)
    require(flagCols.size == stages0.size,
      s"funnel stages (${stages0.size}) and flags (${flagCols.size}) diverged")
    val withCum = flagCols.zipWithIndex.foldLeft(flags) { case (df, (c, i)) =>
      df.withColumn(s"f${i + 1}",
        if (i == 0) col(c) else col(s"f$i") * col(c))
    }
    val aggs = Seq(count(lit(1)).as("n0"), sum($"n_tokens").as("t0")) ++
      flagCols.indices.flatMap(i => Seq(
        sum(col(s"f${i + 1}")).as(s"n${i + 1}"),
        sum(col(s"f${i + 1}") * $"n_tokens").as(s"t${i + 1}")))
    val row = withCum.agg(aggs.head, aggs.tail: _*)
    val stages = "corpus" +: stages0
    row.select(explode(array(stages.zipWithIndex.map { case (nm, i) =>
        struct(lit(i.toLong).as("stage_no"), lit(nm).as("stage"),
          col(s"n${math.max(i - 1, 0)}").as("docs_in"),
          col(s"n$i").as("docs_out"),
          col(s"t$i").as("tokens_out"))
      }: _*)).as("s"))
      .select($"s.*")
  }

  /** Per-language sampling rates for [[stratifiedSample]] (percent kept):
    * the training-mix composition dial — downsample dominant languages,
    * keep the tail. Unlisted languages fall back to 100 (keep all). */
  val SampleRates: Seq[(String, Int)] = Seq("en" -> 50, "de" -> 25, "es" -> 10)
  val SampleSeed = 11

  /** Stratified deterministic sampling — the corpus-composition operator a
    * training mix is built with (downsample en, keep low-resource tails).
    * Each document's verdict is a pure function of (seed, doc_id): an
    * md5-derived bucket in [0, 100) compared to its language's rate, so
    * the sample is REPRODUCIBLE, stable under corpus growth (adding rows
    * never flips an existing row's verdict — the property unseeded
    * `sample()` lacks), and embarrassingly row-local at any scale. Emits
    * every row with its bucket and keep flag so the gate hashes the
    * decision surface, not just the survivors. */
  def stratifiedSample(docs: DataFrame, rates: Seq[(String, Int)] = SampleRates,
                       seed: Int = SampleSeed): DataFrame = {
    import docs.sparkSession.implicits._
    val bucket = pmod(Dedup.md5Hash32(seed, $"doc_id".cast("string")), lit(100L))
    val rate = rates.foldLeft(lit(100)) { case (acc, (l, r)) =>
      when($"lang" === l, r).otherwise(acc)
    }
    docs.select($"doc_id", $"lang", bucket.as("bucket"),
      rate.cast("long").as("rate_pct"),
      (bucket < rate).cast("long").as("kept"))
  }

  /** Training-sequence length for [[packSequences]] (tokens). */
  val PackSeqLen = 512L

  /** Sequence PACKING — the concat-then-chunk layout step that turns a
    * filtered corpus into fixed-length training sequences: documents are
    * concatenated in (source, doc_id) order and cut every [[PackSeqLen]]
    * tokens; each doc reports the sequence its first token lands in and
    * its offset within that sequence.
    *
    * Packing is per SOURCE (the natural shard of a curation run): the
    * running token offset is a window cumsum partitioned by source, so no
    * global total order is ever needed — at 100 TB each source packs
    * independently and the window never sees more than one source's
    * manifest grain (doc ids + lengths, not text). Deterministic: the
    * order key (source, doc_id) is total. */
  def packSequences(docs: DataFrame, seqLen: Long = PackSeqLen): DataFrame = {
    import docs.sparkSession.implicits._
    packSequencesFrom(docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens")), seqLen)
  }

  /** The packing kernel over an EXPLICIT (source, doc_id, n_tokens)
    * frame — shared by [[packSequences]] (whitespace token counts) and
    * the BPE-grain packing (`j7_pack_bpe`, counts from the real
    * tokenizer output [[TextOps.bpeEncodeDocs]] — the tokenize→pack
    * closure a training pipeline actually runs). */
  def packSequencesFrom(counts: DataFrame, seqLen: Long = PackSeqLen): DataFrame = {
    import counts.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    counts
      .withColumn("tok_offset", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .select($"source", $"doc_id", $"n_tokens", $"tok_offset",
        floor($"tok_offset" / seqLen).cast("long").as("seq_id"),
        pmod($"tok_offset", lit(seqLen)).as("seq_offset"))
  }

  /** Per-source token budget for [[tokenBudgetMix]]. 1000 sits below every
    * harness source total (min 1136 at sf0.01), so every source gets a
    * fractional data-dependent rate — the non-vacuous regime; the
    * `total <= budget` keep-all branch is unit-tested on a fixture. */
  val MixBudgetTokens = 1000L
  val MixSeed = 13

  /** Token-budget-weighted training MIX: where [[stratifiedSample]] applies
    * FIXED per-language rates, this computes each source's rate FROM THE
    * DATA — rate = budget / total_source_tokens (capped at 1) — so every
    * source contributes ~the same token mass, the "uniform mix" a training
    * run starts from. Keep decisions are the same md5-bucket scheme
    * (row-stable under corpus growth GIVEN the rate; re-aggregating moves
    * rates, as any data-dependent mix must). Rates are integer millionths
    * (floor division, oracle-exact). 100 TB posture: one per-source
    * aggregate (broadcast back — sources number in the thousands, not
    * billions), then a row-local verdict. */
  def tokenBudgetMix(docs: DataFrame, budget: Long = MixBudgetTokens,
                     seed: Int = MixSeed): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    val totals = tok.groupBy($"source")
      .agg(sum($"n_tokens").as("total_tokens"))
      .select($"source", $"total_tokens",
        when($"total_tokens" <= budget, 1000000L)
          .otherwise(floor(lit(budget * 1000000d) / $"total_tokens"))
          .cast("long").as("rate_e6"))
    val bucket = pmod(Dedup.md5Hash32(seed, $"doc_id".cast("string")),
      lit(1000000L))
    tok.join(broadcast(totals), Seq("source"))
      .select($"source", $"doc_id", $"n_tokens", $"total_tokens", $"rate_e6",
        bucket.as("bucket"),
        (bucket < $"rate_e6").cast("long").as("kept"))
  }

  /** Per-group sample size for [[sampleKPerGroup]]. */
  val SampleK = 5
  val SampleKSeed = 17

  /** Deterministic k-per-group sampling: the fixed-size per-source subset
    * (eval slices, spot-check panels) a pipeline draws reproducibly. The
    * order key is the md5 hash of the doc id — uniform, seed-stable, and
    * independent of ingestion order — so the chosen k are a uniform draw
    * that never changes across runs; the rank is a per-SOURCE window
    * (groups shard naturally, no global order). Where reservoir sampling
    * gives a random irreproducible subset, hash-order top-k gives the
    * same statistical guarantee WITH reproducibility. */
  def sampleKPerGroup(docs: DataFrame, k: Int = SampleK,
                      seed: Int = SampleKSeed): DataFrame = {
    import docs.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"h", $"doc_id")
    docs.select($"source", $"doc_id",
      Dedup.md5Hash32(seed, $"doc_id".cast("string")).as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= k)
      .select($"source", $"doc_id", $"h", $"rn")
  }

  /** Benchmark decontamination: corpus documents (doc_id >= evalDocs)
    * sharing winnowing fingerprints with any eval document (doc_id <
    * evalDocs). One row per contaminated corpus doc: how many distinct
    * fingerprints overlap and with how many eval docs. At 100 TB the
    * eval fingerprint side is tiny and broadcast; the corpus side is the
    * winnow grain the J4 kernel already produces. */
  def decontam(docs: DataFrame, evalDocs: Long = EvalDocs): DataFrame = {
    import docs.sparkSession.implicits._
    val fps = Dedup.winnow(docs)
    val evalFp = fps.filter($"doc_id" < evalDocs)
      .select($"fp", $"doc_id".as("eval_doc")).distinct()
    fps.filter($"doc_id" >= evalDocs).distinct()
      .join(broadcast(evalFp), Seq("fp"))
      .groupBy($"doc_id")
      .agg(countDistinct($"fp").as("n_shared_fp"),
        countDistinct($"eval_doc").as("n_eval_docs"))
  }

  /** N-gram size of [[decontamNgram]] — 13, the published decontamination
    * convention (GPT-3 appendix C / PaLM: a train doc is contaminated if
    * it shares any 13-gram with an eval document). */
  val DecontamN = 13

  /** DIRECT n-gram decontamination — the published-standard complement to
    * [[decontam]]'s winnowing-fingerprint form: a train document
    * (doc_id >= evalDocs) is contaminated iff it shares at least one
    * exact word 13-gram with any eval document. One row per train doc
    * with >= 1 n-gram: distinct-gram count, shared-gram count, how many
    * eval docs it collides with, the contamination fraction (e6, exact),
    * and the binary verdict.
    *
    * Scale shape: grams are built row-locally ([[Dedup.ngramArrays]] —
    * constant slice references per row) and hashed to 60-bit md5
    * fingerprints so the exploded grain shuffles 8-byte longs; the EVAL
    * side is the benchmark suite — tiny by construction — so its
    * distinct fingerprint set BROADCASTS and the train corpus is touched
    * exactly once (per-doc gram counts are row-local `size()`, not a
    * second aggregation over the exploded grain). Fingerprint collisions
    * (P < 2^-19 at 2M distinct grams) behave identically on both engines
    * — same formula as [[Dedup.shingleFpArrays]]. */
  def decontamNgram(docs: DataFrame, n: Int = DecontamN,
                    evalDocs: Long = EvalDocs): DataFrame = {
    import docs.sparkSession.implicits._
    val withFps = Dedup.ngramArrays(docs, n).select($"doc_id",
      array_distinct(transform($"grams", g => graft.functions.Md5Head60(g)))
        .as("fps"))
    val evalFp = withFps.filter($"doc_id" < evalDocs)
      .select(explode($"fps").as("fp"), $"doc_id".as("eval_doc")).distinct()
    val train = withFps.filter($"doc_id" >= evalDocs && size($"fps") > 0)
    val shared = train.select($"doc_id", explode($"fps").as("fp"))
      .join(broadcast(evalFp), Seq("fp"))
      .groupBy($"doc_id")
      .agg(countDistinct($"fp").as("n_shared"),
        countDistinct($"eval_doc").as("n_eval_docs"))
    train.select($"doc_id", size($"fps").cast("long").as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shared", "n_eval_docs"))
      .select($"doc_id", $"n_grams", $"n_shared", $"n_eval_docs",
        expr("(n_shared * 1000000) div n_grams").as("contam_frac_e6"),
        ($"n_shared" > 0).cast("long").as("contaminated"))
  }

  /** TEMPERATURE-weighted source rebalancing (the mT5/Pile alpha-sampling
    * convention at alpha = 0.5): sampling weight per source is
    * sqrt(total_tokens) instead of total_tokens, boosting small sources
    * relative to proportional sampling while never inverting the order —
    * the standard fix for web-scale corpora drowning out books/code.
    * [[tokenBudgetMix]] keeps the proportional form; this is the
    * temperature point every published mixture tunes.
    *
    * alpha = 0.5 keeps the whole computation EXACT: isqrt(total) is
    * floor(sqrt) of an int64 < 2^52, where IEEE sqrt is correctly rounded
    * and floor recovers the exact integer square root on both engines; the
    * normalization and rate are integer divisions from there. The
    * source-grain frame is tiny and broadcast; verdicts are row-local
    * md5-bucket draws, reproducible under corpus growth. */
  def temperatureMix(docs: DataFrame, budget: Long = MixBudgetTokens,
                     seed: Int = MixSeed): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    val totals = tok.groupBy($"source")
      .agg(sum($"n_tokens").as("total_tokens"))
      .select($"source", $"total_tokens",
        floor(sqrt($"total_tokens".cast("double"))).cast("long").as("w"))
    val wsum = totals.agg(sum($"w").as("wsum"))
    val rates = totals.crossJoin(broadcast(wsum))
      .select($"source", $"total_tokens", $"w",
        expr(s"($budget * w) div wsum").as("target_tokens"))
      .select($"source", $"total_tokens", $"w", $"target_tokens",
        least(lit(1000000L), expr("(target_tokens * 1000000) div greatest(total_tokens, 1)"))
          .as("rate_e6"))
    val bucket = pmod(Dedup.md5Hash32(seed, $"doc_id".cast("string")),
      lit(1000000L))
    tok.join(broadcast(rates), Seq("source"))
      .select($"source", $"doc_id", $"n_tokens", $"total_tokens", $"w",
        $"target_tokens", $"rate_e6", bucket.as("bucket"),
        (bucket < $"rate_e6").cast("long").as("kept"))
  }

  /** [[epochMix]] dials: the token budget is [[EpochMixX]] x the corpus
    * total (the data-constrained regime — the training budget EXCEEDS the
    * corpus, so sources must REPEAT), and repeats cap at [[EpochMixCap]]
    * epochs (the published repeated-data dial: value decays past ~4 epochs
    * of reuse, Muennighoff et al. 2023). */
  val EpochMixX = 3L
  val EpochMixCap = 4L

  /** J7 — EPOCH/REPEAT allocation mix (round 13): [[temperatureMix]]
    * extended to the data-constrained regime. Per source, the temperature
    * target (isqrt weights, alpha = 0.5) is converted into an INTEGER
    * epoch count plus a down-sampled remainder: full_epochs =
    * min(target div total, cap) whole passes over the source, and the
    * remainder target mass becomes a fractional keep rate for ONE more
    * pass (rem_rate_e6 = 0 once the cap binds). Each document's
    * `n_copies` = full_epochs + its md5-bucket remainder draw — the
    * up-sampling dial that lets small high-quality sources repeat while
    * web-scale sources stay sub-sampled, with every quantity exact
    * integers end to end.
    *
    * 100 TB posture: identical to [[temperatureMix]] — one source-grain
    * aggregate broadcast back, then a row-local verdict; the repeat count
    * is a manifest COLUMN (the loader materializes copies), so no row is
    * ever duplicated in this plan. */
  def epochMix(docs: DataFrame, budgetX: Long = EpochMixX,
               cap: Long = EpochMixCap, seed: Int = MixSeed): DataFrame = {
    import docs.sparkSession.implicits._
    val tok = docs.select($"source", $"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    val totals = tok.groupBy($"source")
      .agg(sum($"n_tokens").as("total_tokens"))
      .select($"source", $"total_tokens",
        floor(sqrt($"total_tokens".cast("double"))).cast("long").as("w"))
    val gsum = totals.agg(sum($"w").as("wsum"),
      sum($"total_tokens").as("corpus_tokens"))
    val rates = totals.crossJoin(broadcast(gsum))
      .select($"source", $"total_tokens", $"w",
        expr(s"(corpus_tokens * $budgetX * w) div wsum").as("target_tokens"))
      .select($"source", $"total_tokens", $"w", $"target_tokens",
        least(expr("target_tokens div greatest(total_tokens, 1)"), lit(cap))
          .as("full_epochs"))
      .select($"source", $"total_tokens", $"w", $"target_tokens", $"full_epochs",
        when($"full_epochs" >= cap, 0L)
          .otherwise(expr(
            "((target_tokens - full_epochs * total_tokens) * 1000000) div greatest(total_tokens, 1)"))
          .cast("long").as("rem_rate_e6"))
    val bucket = pmod(Dedup.md5Hash32(seed, $"doc_id".cast("string")),
      lit(1000000L))
    tok.join(broadcast(rates), Seq("source"))
      .select($"source", $"doc_id", $"n_tokens", $"total_tokens", $"w",
        $"target_tokens", $"full_epochs", $"rem_rate_e6", bucket.as("bucket"),
        ($"full_epochs" + (bucket < $"rem_rate_e6").cast("long")).as("n_copies"))
  }

  /** The EVAL-SIDE decontamination report — the view the published
    * decontamination appendices actually tabulate (GPT-3 appendix C /
    * PaLM): per BENCHMARK document, how compromised is it — how many of
    * its 13-grams appear anywhere in the training corpus, and how many
    * distinct train documents carry them. [[decontamNgram]] answers
    * "which train docs do I drop"; this answers "which eval results can
    * I still trust" — both from the same gram fingerprints, so the two
    * verdicts can never disagree about what a collision is.
    *
    * Scale shape: the eval set is the small side (fixed benchmark) — its
    * distinct gram fingerprints BROADCAST; the train corpus is exploded
    * once to the gram grain and semi-joined in the map stage, so the one
    * shuffle is the (eval_doc) aggregate over the HIT subset only. Eval
    * docs shorter than n tokens carry no grams and report 0/0/0. */
  def decontamEvalReport(docs: DataFrame, n: Int = DecontamN,
                         evalDocs: Long = EvalDocs): DataFrame = {
    import docs.sparkSession.implicits._
    val withFps = Dedup.ngramArrays(docs, n).select($"doc_id",
      array_distinct(transform($"grams", g => graft.functions.Md5Head60(g)))
        .as("fps"))
    val evalFp = withFps.filter($"doc_id" < evalDocs)
      .select($"doc_id".as("eval_doc"), explode($"fps").as("fp"))
    val trainFp = withFps.filter($"doc_id" >= evalDocs)
      .select($"doc_id".as("train_doc"), explode($"fps").as("fp"))
    val hits = trainFp.join(broadcast(evalFp), Seq("fp"))
      .groupBy($"eval_doc")
      .agg(countDistinct($"fp").as("n_hit_grams"),
        countDistinct($"train_doc").as("n_train_docs"))
    docs.filter($"doc_id" < evalDocs)
      .join(withFps.select($"doc_id", size($"fps").cast("long").as("n_grams")), Seq("doc_id"))
      .join(hits.withColumnRenamed("eval_doc", "doc_id"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_hit_grams", "n_train_docs"))
      .select($"doc_id", $"n_grams", $"n_hit_grams", $"n_train_docs",
        expr("(n_hit_grams * 1000000) div greatest(n_grams, 1)").as("leaked_frac_e6"),
        ($"n_hit_grams" > 0).cast("long").as("compromised"))
  }

  /** Snapshot DELTA detection (CDC merge): classify every document across
    * two crawl snapshots as added / deleted / changed / unchanged — the
    * step that turns "re-process 100 TB nightly" into "re-process the
    * delta". One full-outer equi-join on doc_id comparing content hashes;
    * everything else is row-local. In production the md5 is computed once
    * at ingest and stored beside the row (the standard content-hash
    * column), so the nightly merge touches no text at all — it joins two
    * (doc_id, hash) manifests whose size is the doc COUNT, not the corpus
    * bytes.
    *
    * The two snapshots are carved deterministically from the harness
    * table so the oracle reproduces them: OLD = doc_id % 10 != 0 (the
    * %10==0 docs are "newly crawled"), NEW = doc_id % 10 != 9 (the %10==9
    * docs "disappeared"), and NEW text for doc_id % 7 == 0 gains a
    * revision marker ("content drifted"). A production caller passes two
    * real snapshot frames. */
  def snapshotDelta(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // presence is tracked with explicit side flags, NOT hash nullness —
    // a NULL-text row hashes to NULL and would otherwise read as "absent"
    // (misclassifying real rows in production snapshots, where nullable
    // text is plausible); hashes compare null-safely for the same reason
    val old = docs.filter($"doc_id" % 10 =!= 0)
      .select($"doc_id", md5($"text").as("old_hash"), lit(true).as("in_old"))
    val neu = docs.filter($"doc_id" % 10 =!= 9)
      .select($"doc_id",
        md5(when($"doc_id" % 7 === 0, concat($"text", lit(" rev2")))
          .otherwise($"text")).as("new_hash"), lit(true).as("in_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"in_old".isNull, "added")
          .when($"in_new".isNull, "deleted")
          .when($"old_hash" <=> $"new_hash", "unchanged")
          .otherwise("changed").as("verdict"),
        coalesce($"old_hash", lit("")).as("old_hash"),
        coalesce($"new_hash", lit("")).as("new_hash"))
  }

  /** J7 — dataset FINGERPRINT: per-source order-free content checksums,
    * the cheap parity audit a pipeline runs between stages / snapshots
    * ("did the copy, repartition, or migration preserve the data?").
    * Signatures are bit_xor folds of a 60-bit md5 prefix per row —
    * commutative and associative, so the result is independent of
    * partitioning and row order, and the aggregate is map-side
    * combinable: the 100 TB cost is one pass and a |sources|-row
    * shuffle. XOR parity is intentionally paired with exact n_docs /
    * n_chars: a doc REPLACED by a twin of another row's hash would
    * cancel in the xor but move the counts (and vice versa). Not a
    * cryptographic integrity proof — a drift tripwire. */
  def checksum(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      // octet_length (bytes), matching the oracle's strlen: the two engines
      // must agree on non-ASCII corpora too — this op is a parity tripwire
      sum(octet_length($"text")).as("n_chars"),
      expr("bit_xor(doc_id)").as("id_sig"),
      expr("bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint))")
        .as("content_sig"))
  }

  /** [[contentSplit]] percentages: buckets [0, Val) -> val,
    * [Val, Val+Test) -> test, the rest train. */
  val ContentSplitSeed = 77
  val SplitValPct = 2L
  val SplitTestPct = 3L

  /** J7 — LEAKAGE-SAFE train/val/test split: the assignment key is the md5
    * of the CONTENT, not the row id — exact duplicates (and any future
    * re-ingest of the same text under a new doc_id) land in the same
    * split by construction, so a duplicated document can never sit in
    * both train and test. This is the property the manifest's id-keyed
    * split ([[trainsetManifest]]) deliberately does not have (ids are
    * cheap and stable there; here the DEDUP-INTERACTION is the point).
    * Row-local verdicts: reproducible, stable under corpus growth, one
    * map pass at any scale. */
  def contentSplit(docs: DataFrame, valPct: Long = SplitValPct,
                   testPct: Long = SplitTestPct,
                   seed: Int = ContentSplitSeed): DataFrame = {
    import docs.sparkSession.implicits._
    val bucket = pmod(Dedup.md5Hash32(seed, $"text"), lit(100L))
    docs.select($"doc_id", $"source", bucket.as("bucket"),
      when(bucket < valPct, "val")
        .when(bucket < valPct + testPct, "test")
        .otherwise("train").as("split"))
  }

  /** [[qualityGate]] drop fraction in percent (bottom decile). */
  /** [[gopherGate]] dials — the published Gopher A1.1 rule bounds (Rae et
    * al. 2021), expressed as exact integer comparisons (mean word length
    * in [3,10] becomes 3n <= chars <= 10n, etc.). */
  val GopherMinTokens = 50L
  val GopherMaxTokens = 100000L
  val GopherMinWordLen = 3L
  val GopherMaxWordLen = 10L
  val GopherMaxSymbolPct = 10L
  val GopherMinStopwords = 2L
  /** Duplicate-word-fraction bound. Gopher's literal 30% is unreachable
    * on the harness's ~30-word synthetic vocabulary (every >=50-token doc
    * repeats words), so the DIAL is graded at 60% — the point where the
    * verdict splits the corpus both ways (78/500 kept at sf0.001) and
    * every rule still fires differentially. */
  val GopherMaxDupPct = 60L

  /** J7 — the GOPHER RULE BUNDLE as one gate with PER-RULE attribution
    * (the Dolma/RedPajama release pattern: every dropped doc carries
    * WHICH rule dropped it, so the pipeline's filter mix is auditable):
    * token-count range, mean-word-length range, symbol-to-word ratio,
    * minimum distinct stopwords, and duplicate-word fraction — each a
    * row-local exact-integer flag, kept = AND of all five. Composes the
    * graded J4 signals into the published bundle; [[qualityGate]] stays
    * as the score-percentile form.
    *
    * 100 TB posture: zero shuffles — one map pass, every flag a codegen'd
    * expression over the token array. */
  def gopherGate(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val stopArr = TextOps.stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    docs.select($"doc_id", $"source",
        expr("cast(size(split(text, ' ')) as bigint)").as("n_tokens"),
        expr("aggregate(split(text, ' '), cast(0 as bigint), (a, t) -> a + length(t))").as("tok_chars"),
        expr("cast(size(array_distinct(split(text, ' '))) as bigint)").as("n_distinct"),
        expr("cast(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) as bigint)").as("n_punct"),
        expr(s"cast(size(array_intersect(array_distinct(split(text, ' ')), $stopArr)) as bigint)").as("n_stop_kinds"))
      .select($"doc_id", $"source", $"n_tokens", $"tok_chars", $"n_distinct",
        $"n_punct", $"n_stop_kinds",
        ($"n_tokens" >= GopherMinTokens && $"n_tokens" <= GopherMaxTokens)
          .cast("long").as("ok_len"),
        (lit(GopherMinWordLen) * $"n_tokens" <= $"tok_chars" &&
          $"tok_chars" <= lit(GopherMaxWordLen) * $"n_tokens")
          .cast("long").as("ok_word_len"),
        (lit(100L) * $"n_punct" <= lit(GopherMaxSymbolPct) * $"n_tokens")
          .cast("long").as("ok_symbol"),
        ($"n_stop_kinds" >= GopherMinStopwords).cast("long").as("ok_stop"),
        (lit(100L) * ($"n_tokens" - $"n_distinct") <= lit(GopherMaxDupPct) * $"n_tokens")
          .cast("long").as("ok_rep"))
      .withColumn("kept",
        ($"ok_len" * $"ok_word_len" * $"ok_symbol" * $"ok_stop" * $"ok_rep")
          .cast("long"))
  }

  /** J7 — DATASET-CARD corpus statistics: the per-(source, language)
    * summary table every corpus release publishes — doc/token/char
    * counts, exact integer mean tokens per doc, and the EXACT p50 token
    * count via the c14 integer-rank kernel (no interpolation, both
    * engines agree bit-for-bit).
    *
    * 100 TB posture: one aggregate shuffle on the (source, lang) key +
    * one rank window partitioned by the same key. */
  def corpusStats(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val t = docs.select($"source", $"lang", $"doc_id",
      expr("cast(size(split(text, ' ')) as bigint)").as("n_tok"),
      expr("cast(length(text) as bigint)").as("n_chars"))
    val agg = t.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        sum($"n_chars").as("n_chars"))
    val ranked = t.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy($"source", $"lang").orderBy($"n_tok", $"doc_id")).cast("long"))
    val p50 = ranked.join(agg.select($"source", $"lang", $"n_docs"), Seq("source", "lang"))
      .filter($"rn" === expr("(50 * n_docs + 99) div 100"))
      .select($"source", $"lang", $"n_tok".as("p50_tokens"))
    agg.join(p50, Seq("source", "lang"))
      .select($"source", $"lang", $"n_docs", $"n_tokens", $"n_chars",
        expr("n_tokens div n_docs").as("mean_tokens"), $"p50_tokens")
  }

  /** [[spanCorrupt]] dials: block width (tokens), mask rate (millionths —
    * the T5 15% corruption convention), and the draw seed. */
  val SpanBlockTokens = 8
  val SpanMaskRateE6 = 150000L
  val SpanSeed = 23

  /** J7 — SPAN-CORRUPTION sample prep (the T5/UL2 denoising objective's
    * data layout): partition each document's token stream into fixed
    * [[SpanBlockTokens]]-token blocks, mask each block independently with
    * probability [[SpanMaskRateE6]] via a seeded md5 draw (deterministic,
    * reproducible, resumable — the published pipelines' requirement), and
    * emit the training pair: `input_text` with every masked block
    * replaced by its ordinal `<extra_id_j>` sentinel, and `target_text`
    * as the sentinel-prefixed masked spans in order — exactly the
    * encoder/decoder halves a T5-style pretraining batch consumes.
    * Fixed blocks make the spans non-overlapping BY CONSTRUCTION, so the
    * whole transform is one row-local pass (the sequential overlap
    * resolution of token-grain span sampling has no distributed form).
    *
    * 100 TB posture: zero shuffles — every column is a row-local
    * expression over the token array; draws are pure functions of
    * (seed, doc_id, block), so corpus growth never changes a doc's
    * masking. */
  def spanCorrupt(docs: DataFrame, w: Int = SpanBlockTokens,
                  rateE6: Long = SpanMaskRateE6, seed: Int = SpanSeed): DataFrame = {
    import docs.sparkSession.implicits._
    val draw = Dedup.md5Hash32(seed,
      concat($"doc_id".cast("string"), lit(":"), $"k".cast("string")))
    // blocks as array<array<string>>; mi = 1-based masked block indices
    val blocked = docs.select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks", expr(
        s"transform(sequence(0, (size(toks) - 1) div $w), b -> slice(toks, b * $w + 1, $w))")
        .as("blocks"))
    val base = graft.Pinned.track(blocked
      .select($"doc_id", $"toks", $"blocks",
        posexplode($"blocks").as(Seq("k0", "blk")))
      .select($"doc_id", ($"k0" + 1).as("k"), $"blk")
      .filter(pmod(draw, lit(1000000L)) < rateE6)
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"k".cast("long"))).as("mi")))
    blocked.join(base, Seq("doc_id"), "left")
      .select($"doc_id", $"toks", $"blocks",
        coalesce($"mi", typedLit(Seq.empty[Long])).as("mi"))
      .select($"doc_id", $"toks", $"blocks", $"mi",
        // masked blocks collapse to their ordinal sentinel; kept blocks pass
        expr("""flatten(transform(blocks, (b, k0) ->
               |  if(array_contains(mi, cast(k0 + 1 as bigint)),
               |     array(concat('<extra_id_', cast(array_position(mi, cast(k0 + 1 as bigint)) - 1 as string), '>')),
               |     b)))""".stripMargin).as("inp"),
        expr("""flatten(transform(mi, (m, j) ->
               |  concat(array(concat('<extra_id_', cast(j as string), '>')),
               |         element_at(blocks, cast(m as int)))))""".stripMargin).as("tgt"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        size($"blocks").cast("long").as("n_blocks"),
        size($"mi").cast("long").as("n_masked_blocks"),
        aggregate($"mi", lit(0L),
          (acc, m) => acc + size(element_at($"blocks", m.cast("int")))).as("n_masked_tokens"),
        expr("(aggregate(mi, cast(0 as bigint), (a, m) -> a + size(element_at(blocks, cast(m as int)))) * 1000000) div size(toks)")
          .as("masked_frac_e6"),
        array_join($"inp", " ").as("input_text"),
        array_join($"tgt", " ").as("target_text"))
  }

  /** J7 — span corruption at the TOKEN-ID grain (round 13): the real T5
    * prep masks AFTER tokenization, so this composes [[spanCorrupt]]'s
    * block/draw layout with the tokenizer artifact
    * ([[TextOps.bpeEncodeDocs]] — `encoded` is its memoized output, ONE
    * shared training pass, never re-trained here). Fixed
    * [[SpanBlockTokens]]-ID blocks are masked by the same seeded
    * (doc, block) md5 draws; SENTINELS ARE RESERVED IDS PAST THE
    * VOCABULARY (vmax + 1 + j, the published convention — a real decoder
    * extends its embedding table by the sentinel budget), emitted in
    * `input_ids` / `target_ids` as the same space-joined ID strings the
    * encode artifact uses. ExtSpec splices every target back into its
    * input and reconstructs the encoded corpus ID-exactly.
    *
    * 100 TB posture: the vocab bound is a 1-row broadcast aggregate; all
    * masking/splicing is row-local over the per-doc ID array — zero
    * shuffles beyond the memoized encode. */
  def spanCorruptBpe(encoded: DataFrame, w: Int = SpanBlockTokens,
                     rateE6: Long = SpanMaskRateE6, seed: Int = SpanSeed): DataFrame = {
    import encoded.sparkSession.implicits._
    // reserved-ID base: ids are dense ranks 1..V, so vmax IS the vocab size
    val vmaxF = encoded.agg(max(expr(
      "array_max(transform(split(token_ids, ' '), x -> cast(x as bigint)))"))
      .as("vmax"))
    val draw = Dedup.md5Hash32(seed,
      concat($"doc_id".cast("string"), lit(":"), $"k".cast("string")))
    val blocked = encoded.crossJoin(broadcast(vmaxF))
      .select($"doc_id", $"vmax", split($"token_ids", " ").as("ids"))
      .select($"doc_id", $"vmax", $"ids", expr(
        s"transform(sequence(0, (size(ids) - 1) div $w), b -> slice(ids, b * $w + 1, $w))")
        .as("blocks"))
    val mi = graft.Pinned.track(blocked
      .select($"doc_id", posexplode($"blocks").as(Seq("k0", "blk")))
      .select($"doc_id", ($"k0" + 1).as("k"))
      .filter(pmod(draw, lit(1000000L)) < rateE6)
      .groupBy($"doc_id")
      .agg(sort_array(collect_list($"k".cast("long"))).as("mi")))
    blocked.join(mi, Seq("doc_id"), "left")
      .select($"doc_id", $"vmax", $"ids", $"blocks",
        coalesce($"mi", typedLit(Seq.empty[Long])).as("mi"))
      .select($"doc_id", $"ids", $"blocks", $"mi",
        // ordinal j is 0-based: sentinel_j = vmax + 1 + j; array_position
        // is 1-based, so vmax + position == vmax + 1 + j
        expr("""flatten(transform(blocks, (b, k0) ->
               |  if(array_contains(mi, cast(k0 + 1 as bigint)),
               |     array(cast(vmax + array_position(mi, cast(k0 + 1 as bigint)) as string)),
               |     b)))""".stripMargin).as("inp"),
        expr("""flatten(transform(mi, (m, j) ->
               |  concat(array(cast(vmax + j + 1 as string)),
               |         element_at(blocks, cast(m as int)))))""".stripMargin).as("tgt"))
      .select($"doc_id",
        size($"ids").cast("long").as("n_ids"),
        size($"blocks").cast("long").as("n_blocks"),
        size($"mi").cast("long").as("n_masked_blocks"),
        aggregate($"mi", lit(0L),
          (acc, m) => acc + size(element_at($"blocks", m.cast("int")))).as("n_masked_ids"),
        expr("(aggregate(mi, cast(0 as bigint), (a, m) -> a + size(element_at(blocks, cast(m as int)))) * 1000000) div size(ids)")
          .as("masked_frac_e6"),
        array_join($"inp", " ").as("input_ids"),
        array_join($"tgt", " ").as("target_ids"))
  }

  /** J7 — CCNet PERPLEXITY BUCKETS: per language, split documents into
    * head / middle / tail terciles by bigram-LM bits-per-token
    * ([[TextOps.lmBits]] — the exact engine-parity score) — the published
    * CCNet move (Wenzek et al.): keep `head` for high-quality corpora,
    * sample `middle`, drop or downweight `tail`. Tercile boundaries use
    * the explicit integer formula ((rn-1)*3) div n + 1 so both engines
    * agree without depending on anyone's ntile() edge semantics.
    *
    * 100 TB posture: the LM scoring is the lmBits chain (bigram-grain
    * shuffles, no corpus-quadratic work); the per-language rank window
    * partitions by lang — the same per-source window shape as
    * [[qualityGate]] — and the |langs|-row count table broadcasts back
    * for the row-local bucket verdict. */
  def pplBuckets(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val scored = docs.select($"doc_id", $"lang")
      .join(TextOps.lmBits(docs), Seq("doc_id"))
    val ranked = scored.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"bits_per_token", $"doc_id")).cast("long"))
    val counts = scored.groupBy($"lang").agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), Seq("lang"))
      .select($"doc_id", $"lang", $"bits_per_token", $"rn", $"n",
        expr("((rn - 1) * 3) div n + 1").as("bucket"))
      .select($"doc_id", $"lang", $"bits_per_token", $"rn", $"n", $"bucket",
        expr("CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 2 THEN 'middle' ELSE 'tail' END")
          .as("bucket_label"),
        ($"bucket" === 1L).cast("long").as("kept_head"))
  }

  /** Seed for [[globalShuffle]] — the training-order permutation dial. */
  val ShuffleSeed = 17

  /** J7 — deterministic GLOBAL training-order shuffle: the last step
    * before packing in every published pipeline — permute the KEPT corpus
    * with a seeded hash so training order is reproducible, resumable, and
    * source-decorrelated. shuffle_key = md5 head of (seed, doc_id);
    * shuffle_rank = the exact global rank in (key, doc_id) order;
    * tok_offset = the exclusive prefix sum of token counts in that order
    * (the doc's first-token position in the permuted token stream), with
    * seq_id/seq_offset cutting it into [[PackSeqLen]] training sequences
    * — [[packSequences]]' layout over the globally permuted order instead
    * of per-source (source, doc_id) order.
    *
    * 100 TB posture: ONE range shuffle on the hash key; BOTH the rank and
    * the running token offset come from [[graft.Dist.withGlobalCumSums]]'
    * two-phase local-cumsum + bounded per-partition offsets (no
    * single-task window anywhere); the kept-set filter is the broadcast
    * [[qualityGate]] verdict. Seed-stable by construction: md5 is a pure
    * function of (seed, doc_id) and (key, doc_id) is a total order, so
    * corpus growth only inserts rows, never reorders survivors of a
    * fixed id set. */
  def globalShuffle(docs: DataFrame, seed: Int = ShuffleSeed,
                    seqLen: Long = PackSeqLen): DataFrame = {
    import docs.sparkSession.implicits._
    val kept = docs.select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .join(qualityGate(docs).filter($"kept" === 1L).select($"doc_id"),
        Seq("doc_id"), "left_semi")
      .withColumn("shuffle_key", Dedup.md5Hash32(seed, $"doc_id".cast("string")))
      .withColumn("one", lit(1L))
    graft.Dist.withGlobalCumSums(kept, Seq("one", "n_tokens"),
        Seq($"shuffle_key", $"doc_id"))
      .select($"doc_id", $"source", $"n_tokens", $"shuffle_key",
        $"cum_one".as("shuffle_rank"),
        ($"cum_n_tokens" - $"n_tokens").as("tok_offset"))
      .select($"doc_id", $"source", $"n_tokens", $"shuffle_key",
        $"shuffle_rank", $"tok_offset",
        expr(s"tok_offset div $seqLen").as("seq_id"),
        expr(s"tok_offset % $seqLen").as("seq_offset"))
  }

  /** J7 — CURRICULUM / ANNEAL training order (round 13): the published
    * end-of-training data-ordering dial (the OLMo/MiniCPM anneal-phase
    * layout; LLaMA-3 likewise up-weights its highest-quality data late in
    * training): order the kept corpus so the GENERIC tercile (CCNet
    * 'middle') trains first and the highest-quality tercile ('head')
    * trains LAST — quality rises toward the end of the token budget —
    * with the seeded md5 permutation INSIDE each stage so stages stay
    * internally decorrelated. Composes two graded surfaces: the CCNet
    * perplexity terciles ([[pplBuckets]]; 'tail' is dropped, per the
    * published keep policy) define the stages, and [[globalShuffle]]'s
    * permutation key orders within a stage. `curriculum_rank` is the
    * exact global training position and `tok_offset` the exclusive token
    * prefix sum in that order, both from [[graft.Dist.withGlobalCumSums]]'
    * two-phase distributed cumsum — ONE range shuffle on
    * (stage, shuffle_key), no single-task window anywhere. */
  def curriculum(docs: DataFrame, ppl: DataFrame, seed: Int = ShuffleSeed,
                 seqLen: Long = PackSeqLen): DataFrame = {
    import docs.sparkSession.implicits._
    val kept = ppl.filter($"bucket" <= 2L)
      .select($"doc_id", $"lang", $"bucket", $"bucket_label",
        // middle (bucket 2) -> stage 1 first; head (bucket 1) -> stage 2 last
        (lit(3L) - $"bucket").as("stage"))
    val toks = docs.select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    val staged = kept.join(toks, Seq("doc_id"))
      .withColumn("shuffle_key", Dedup.md5Hash32(seed, $"doc_id".cast("string")))
      .withColumn("one", lit(1L))
    graft.Dist.withGlobalCumSums(staged, Seq("one", "n_tokens"),
        Seq($"stage", $"shuffle_key", $"doc_id"))
      .select($"doc_id", $"lang", $"bucket_label", $"stage", $"n_tokens",
        $"cum_one".as("curriculum_rank"),
        ($"cum_n_tokens" - $"n_tokens").as("tok_offset"))
      .select($"doc_id", $"lang", $"bucket_label", $"stage", $"n_tokens",
        $"curriculum_rank", $"tok_offset",
        expr(s"tok_offset div $seqLen").as("seq_id"))
  }

  /** [[packFit]] window width (docs): the FFD fold state is bounded by the
    * window — at most windowDocs bins over windowDocs docs fold ROW-LOCALLY
    * — and windows pack independently in parallel, the published
    * data-loader practice (pack within a shard; bins never span shards).
    * 32 keeps the worst-case fold (~W² integer ops per window) trivial
    * while leaving room for real fill gains over concat-chunk. */
  val PackFitWindowDocs = 32L

  /** The dial's WIDE window point ([[packFitWindowDial]]): fill approaches
    * global FFD as the window grows (more candidates per bin), at a W²
    * fold-cost the loaders trade off — 256 is the published shard-buffer
    * ballpark and keeps the worst-case fold bounded (~65k integer ops). */
  val PackFitWindowDial = 256L

  /** J7 — BOUNDARY-AWARE sequence packing (round 13, first-fit-decreasing):
    * where `j7_pack_bpe` concat-then-chunks (documents straddle sequence
    * boundaries — measurable cross-doc attention contamination), this packs
    * WHOLE documents into [[PackSeqLen]]-token bins so no doc is ever
    * split. The corpus is ordered by the seeded [[ShuffleSeed]] md5
    * permutation (the `j7_shuffle` training order), cut into
    * [[PackFitWindowDocs]]-doc windows, and within each window docs place
    * LARGEST-FIRST into the first bin with room (FFD, the classical
    * 11/9·OPT bin-packing bound); a doc longer than the bin gets a bin of
    * its own. One row per doc: its window, bin, global sequence id, offset
    * within the bin, and the bin's fill — the (doc → seq, offset) manifest
    * plus the fill-rate accounting the published loaders report.
    *
    * `counts` is the (doc_id, n_tokens) manifest — for the graded query,
    * the REAL tokenizer counts from the memoized
    * [[TextOps.bpeEncodeDocs]].
    *
    * 100 TB posture: ONE range shuffle on the permutation key (the
    * two-phase [[graft.Dist.withGlobalRank]], no single-task window), one
    * window-grain aggregate whose fold state is ≤ windowDocs bins (pure
    * row-local integer ops — no driver-side loop, no UDF), and the global
    * bin numbering is a cumsum over the tiny window grain. The DuckDB twin
    * folds the identical FFD recurrence as a recursive CTE. */
  def packFit(counts: DataFrame, seqLen: Long = PackSeqLen,
              windowDocs: Long = PackFitWindowDocs,
              seed: Int = ShuffleSeed): DataFrame = {
    import counts.sparkSession.implicits._
    val keyed = counts.select($"doc_id", $"n_tokens",
      Dedup.md5Hash32(seed, $"doc_id".cast("string")).as("skey"))
    val ranked = graft.Dist.withGlobalRank(keyed, "rk", Seq($"skey", $"doc_id"))
      .select($"doc_id", $"n_tokens", expr(s"(rk - 1) div $windowDocs").as("wid"))
    // FFD fold: items sorted largest-first (nn = -n ascending, doc_id
    // tiebreak); state = (bin remainders, placements). The first-fit index
    // is computed ONCE per item and bound as `p` via a transform over a
    // singleton array (SQL has no let; the round-17 before-form recomputed
    // the O(W) position scan five times per item — ~2.5x the interpreted
    // fold work). Identical arithmetic; bounded by W bins per window, so
    // the fold stays ~W² row-local integer ops.
    val folded = ranked.groupBy($"wid")
      .agg(array_sort(collect_list(
        struct((-$"n_tokens").as("nn"), $"doc_id", $"n_tokens".as("n")))).as("items"))
      .select($"wid", expr(
        s"""aggregate(items,
           |  named_struct(
           |    'rems', cast(array() as array<bigint>),
           |    'outs', cast(array() as array<struct<did: bigint, bin: bigint, off: bigint, n: bigint>>)),
           |  (acc, x) -> element_at(transform(
           |    array(array_position(transform(acc.rems, r -> r >= x.n), true)),
           |    p -> named_struct(
           |      'rems',
           |        if(p > 0,
           |           transform(acc.rems, (r, i) ->
           |             if(cast(i as bigint) = p - 1, r - x.n, r)),
           |           concat(acc.rems, array(greatest(cast($seqLen as bigint) - x.n, cast(0 as bigint))))),
           |      'outs', concat(acc.outs, array(named_struct(
           |        'did', x.doc_id,
           |        'bin', if(p > 0, p, cast(size(acc.rems) + 1 as bigint)),
           |        'off', if(p > 0,
           |                 cast($seqLen as bigint) - element_at(acc.rems, cast(p as int)),
           |                 cast(0 as bigint)),
           |        'n', x.n))))), 1),
           |  acc -> acc.outs)""".stripMargin).as("outs"))
    val asg = folded.select($"wid", explode($"outs").as("o"))
      .select($"wid", $"o.did".as("doc_id"), $"o.bin".as("bin_in_window"),
        $"o.off".as("seq_offset"), $"o.n".as("n_tokens"))
    // global bin numbering: exclusive prefix sum of bins-per-window over
    // the tiny window grain (two-phase cumsum — no single-task window)
    val nb = asg.groupBy($"wid").agg(max($"bin_in_window").as("nbins"))
    val bb = graft.Dist.withGlobalCumSums(nb, Seq("nbins"), Seq($"wid"))
      .select($"wid", ($"cum_nbins" - $"nbins").as("binbase"))
    val out0 = asg.join(bb, Seq("wid"))
      .select($"doc_id", $"n_tokens", $"wid".as("window_id"),
        $"bin_in_window", ($"binbase" + $"bin_in_window" - 1).as("seq_id"),
        $"seq_offset")
    val fills = out0.groupBy($"seq_id").agg(sum($"n_tokens").as("bin_tokens"))
    out0.join(fills, Seq("seq_id"))
      .select($"doc_id", $"n_tokens", $"window_id", $"bin_in_window",
        $"seq_id", $"seq_offset", $"bin_tokens",
        expr(s"(bin_tokens * 1000000) div $seqLen").as("fill_e6"))
  }

  /** One-row comparison of [[packFit]] against the concat-chunk layout over
    * the SAME counts — the fill-efficiency delta graded in-query: bins and
    * fill rate for both layouts, concat-chunk's split-document count, and
    * the measured (not asserted) fit-side straddle count — 0 unless a doc
    * exceeds the bin and must occupy one alone. `counts` needs
    * (source, doc_id, n_tokens): concat-chunk packs per source in doc_id
    * order, exactly `j7_pack_bpe`'s layout; `fit` is the [[packFit]]
    * manifest over the same counts and `seqLen`. */
  def packFitStats(counts: DataFrame, fit: DataFrame,
                   seqLen: Long = PackSeqLen): DataFrame = {
    import counts.sparkSession.implicits._
    val fitAgg = fit.agg(count(lit(1)).as("n_docs"),
      sum($"n_tokens").as("total_tokens"),
      (max($"seq_id") + 1).as("n_bins_fit"),
      sum(when($"seq_offset" + $"n_tokens" > seqLen, 1L).otherwise(0L))
        .as("n_straddled_fit"))
    val concatAgg = packSequencesFrom(counts, seqLen)
      .select($"source", $"n_tokens",
        (expr(s"tok_offset div $seqLen") =!=
          expr(s"(tok_offset + n_tokens - 1) div $seqLen")).cast("long").as("straddle"))
      .groupBy($"source")
      .agg(sum($"straddle").as("n_straddled"), sum($"n_tokens").as("src_tokens"))
      .agg(sum($"n_straddled").as("n_straddled_concat"),
        sum(expr(s"(src_tokens + ${seqLen - 1}) div $seqLen")).as("n_bins_concat"))
    fitAgg.crossJoin(broadcast(concatAgg))
      .select($"n_docs", $"total_tokens", $"n_bins_fit",
        expr(s"(total_tokens * 1000000) div (n_bins_fit * $seqLen)").as("fill_fit_e6"),
        $"n_bins_concat",
        expr(s"(total_tokens * 1000000) div (n_bins_concat * $seqLen)").as("fill_concat_e6"),
        $"n_straddled_concat", $"n_straddled_fit")
  }

  /** J7 — the packing WINDOW-WIDTH dial (round-13 verdict #5, the
    * nprobe/banding-dial pattern): [[packFit]] graded at W =
    * [[PackFitWindowDocs]] and W = [[PackFitWindowDial]] over the SAME
    * counts, one row with both fills and the delta — the shard-local fill
    * loss a loader accepts by packing within small windows, quantified
    * in-gate. fill(W_large) >= fill(W_small) is the expected direction
    * (wider windows approach global FFD) and is pinned in ExtSpec, not
    * asserted in-query — a pathological count distribution CAN invert FFD
    * locality, and the dial's job is to MEASURE, not assume. `fitSmall`
    * and `fitLarge` are the [[packFit]] manifests at `wSmall`/`wLarge`. */
  def packFitWindowDial(fitSmall: DataFrame, fitLarge: DataFrame,
                        seqLen: Long = PackSeqLen,
                        wSmall: Long = PackFitWindowDocs,
                        wLarge: Long = PackFitWindowDial): DataFrame = {
    import fitSmall.sparkSession.implicits._
    val a = fitSmall
      .agg(sum($"n_tokens").as("total_tokens"),
        (max($"seq_id") + 1).as("n_bins_w_small"))
    val b = fitLarge
      .agg((max($"seq_id") + 1).as("n_bins_w_large"))
    a.crossJoin(broadcast(b))
      .select(lit(wSmall).as("w_small"), lit(wLarge).as("w_large"),
        $"total_tokens", $"n_bins_w_small",
        expr(s"(total_tokens * 1000000) div (n_bins_w_small * $seqLen)")
          .as("fill_w_small_e6"),
        $"n_bins_w_large",
        expr(s"(total_tokens * 1000000) div (n_bins_w_large * $seqLen)")
          .as("fill_w_large_e6"))
      .withColumn("fill_delta_e6", $"fill_w_large_e6" - $"fill_w_small_e6")
  }

  /** [[packMm]] ViT patch size: an image contributes
    * ceil(w/patch) * ceil(h/patch) placeholder tokens — the deterministic
    * vision-tower token count every VLM loader budgets from the DECODED
    * dims. 2 keeps the fixture's tiny images multi-token. */
  val MmPatch = 2L

  /** J7 — INTERLEAVED MULTIMODAL sequence packing (round-15 verdict #5,
    * the VLM-loader capstone `j7_trainset_mm` gates but never packed):
    * each document is an interleaved (text span, image-placeholder span)
    * item of n_text + n_img tokens, where n_img =
    * ceil(w/[[MmPatch]]) * ceil(h/[[MmPatch]]) comes from the REAL
    * decoded dimensions ([[graft.ext.Multimodal.decodeImages]] — a codec
    * defect that mis-reads dims changes every pack downstream and breaks
    * the closed-form oracle), gated FIRST on the image near-dup canonical
    * (`j5_phash_groups` — a doc whose image is a re-encode of another's
    * never enters the loader). The combined item packs through the SAME
    * FFD kernel as [[packFit]] (whole docs, no straddle), and the
    * manifest emits both spans: the doc's text starts at `seq_offset`,
    * its image placeholders at `img_offset` = seq_offset + n_text_tokens
    * — contiguous by construction (ExtSpec pins span adjacency,
    * no-straddle, and the canonical gate).
    *
    * 100 TB posture: the gate is one doc-grain semi-join against the
    * bounded cluster frame, the dims one decode pass the image family
    * already runs, and the pack is [[packFit]]'s plan (ONE range shuffle,
    * window-local W² fold, window-grain cumsum). */
  def packMm(docs: DataFrame, decoded: DataFrame, imgGroups: DataFrame,
             seqLen: Long = PackSeqLen, windowDocs: Long = PackFitWindowDocs,
             seed: Int = ShuffleSeed, patch: Long = MmPatch): DataFrame = {
    import docs.sparkSession.implicits._
    val canonical = imgGroups.filter($"doc_id" === $"cluster_id").select($"doc_id")
    val counts = docs.join(canonical, Seq("doc_id"), "left_semi")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_text_tokens"))
      .join(decoded.select($"doc_id",
        (expr(s"(width + $patch - 1) div $patch") *
          expr(s"(height + $patch - 1) div $patch")).cast("long").as("n_img_tokens")),
        Seq("doc_id"))
    val fit = packFit(
      counts.select($"doc_id", ($"n_text_tokens" + $"n_img_tokens").as("n_tokens")),
      seqLen, windowDocs, seed)
    fit.join(counts, Seq("doc_id"))
      .select($"doc_id", $"n_text_tokens", $"n_img_tokens", $"n_tokens",
        $"window_id", $"bin_in_window", $"seq_id", $"seq_offset",
        ($"seq_offset" + $"n_text_tokens").as("img_offset"),
        $"bin_tokens", $"fill_e6")
  }

  val QualityDropPct = 10L

  /** J7 — per-source quality-percentile gate: drop each source's bottom
    * [[QualityDropPct]]% by the COMPOSITE quality score
    * ([[TextOps.compositeScoreSpark]] — length + diversity + stopword
    * presence − punctuation density, the graded j4 quality signals as one
    * number; round 10, previously bare token count), keeping ties at the
    * boundary. Two-pass scale shape: the per-source threshold is selected
    * by the c14 integer-rank kernel (exact, no interpolation), then the
    * |sources|-row threshold table is BROADCAST back and every verdict is
    * row-local (score > thr) — the event grain is never re-shuffled for
    * the verdict. Sources too small to have a dropped decile
    * ((pct*n) div 100 == 0) get no threshold row and keep everything
    * (thr = -1; composite scores are > 0 for any non-degenerate text, and
    * a pathological all-punctuation doc scoring <= -1 would only ever be
    * dropped — the conservative direction for a quality gate). */
  def qualityGate(docs: DataFrame, dropPct: Long = QualityDropPct): DataFrame = {
    import docs.sparkSession.implicits._
    val scored = docs.select($"doc_id", $"source",
      TextOps.compositeScoreSpark.as("score"))
    val ranked = scored.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("score", "doc_id")).cast("long"))
    val counts = scored.groupBy($"source").agg(count(lit(1)).as("n"))
    val thr = ranked.join(counts, Seq("source"))
      .filter($"rn" === expr(s"($dropPct * n) div 100"))
      .select($"source", $"score".as("thr"))
    scored.join(broadcast(thr), Seq("source"), "left")
      .na.fill(-1L, Seq("thr"))
      .select($"doc_id", $"source", $"score", $"thr",
        ($"score" > $"thr").cast("long").as("kept"))
  }
}
