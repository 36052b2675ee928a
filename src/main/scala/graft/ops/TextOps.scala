package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import DedupOps.tokens

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2B
  * X28): token statistics, quality scoring, language-ID heuristic, tf-idf,
  * and content fingerprinting — all column algebra over `documents`. */
object TextOps {

  // Shared count relations cached per (application, SF dir) — the two LM
  // scorers each reference their count relation on three plan branches
  // (Spark re-scans per branch on unpersisted lineage), and the bigram
  // scorer's vocabulary rides the token relation instead of a third
  // corpus pass. See PerAppCache for the eviction/footprint contract.
  import PerAppCache.cachedPerApp
  private def tfRel(s: SparkSession, d: String): DataFrame =
    cachedPerApp("TextOps.tokenCounts", s, d)(
      PerAppCache.persistSpread(s, graft.api.TrainingData
        .tokenCounts(t(s, d, "documents"), "doc_id", "text")))
  private def bgRel(s: SparkSession, d: String): DataFrame =
    cachedPerApp("TextOps.bigramCounts", s, d)(
      PerAppCache.persistSpread(s, graft.api.TrainingData
        .bigramCounts(t(s, d, "documents"), "doc_id", "text")))
  // the per-doc bigram-LM score relation, shared by x28n and x44: the
  // curriculum query references the scores on two plan branches (the
  // threshold aggregation and the bucket join), which re-ran the whole
  // surprisal lineage per branch before this was persisted
  private def nllRel(s: SparkSession, d: String): DataFrame =
    cachedPerApp("TextOps.bigramLmScores", s, d)(
      PerAppCache.persistSpread(s,
        graft.api.TrainingData.bigramLmScoresFromCounts(bgRel(s, d),
          graft.api.TrainingData.vocabularyFromCounts(tfRel(s, d)))))

  /** X28 — token counting + basic stats per document (zero-token guard:
    * all-whitespace text → NULL avg, not ANSI DIVIDE_BY_ZERO; oracle
    * mirrors via NULLIF). Fixture binding of
    * [[graft.api.TrainingData.tokenStats]]. */
  def x28Tokens(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.tokenStats(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** X28 — quality scoring: length signal × (1 − stopword ratio) −
    * punctuation penalty; deterministic arithmetic on integer counts. */
  def x28bQuality(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in")
    t(s, d, "documents")
      .withColumn("tk", tokens(col("text")))
      .withColumn("n_toks", size(col("tk")))
      .withColumn("n_stop",
        size(filter(col("tk"), t => t.isInCollection(stop))))
      .withColumn("n_punct",
        length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
      .select(col("doc_id"), col("n_toks"), col("n_stop"), col("n_punct"),
        // zero-token guard mirrors x28Tokens: NULL ratios on empty docs
        when(col("n_toks") > 0,
          round(col("n_stop").cast("double") / col("n_toks"), 6))
          .otherwise(lit(null).cast("double")).as("stop_ratio"),
        when(col("n_toks") > 0,
          round(least(lit(1.0), col("n_toks").cast("double") / 50.0) *
            (lit(1.0) - col("n_stop").cast("double") / col("n_toks")), 6))
          .otherwise(lit(null).cast("double")).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** X28s — Gopher-style rule-based document filtering (Rae et al. 2021
    * §A1.1 "quality filtering" recipe, thresholds tuned to the fixture's
    * range): per-rule boolean flags PLUS the final keep verdict, so a
    * pipeline can audit WHY a document was dropped (the flags are the
    * per-rule reject counters every curation report publishes). All
    * row-local column algebra — scan-speed at 100 TB, no shuffle before
    * the gate's orderBy. Rules: token count outside [20, 80]; mean word
    * length outside [4.0, 5.0]; < 80 % of words containing a letter;
    * fewer than 2 distinct stopwords present. Zero-token docs flag every
    * rule (coalesce — NULL ratios must not un-flag). Fixture binding of
    * [[graft.api.TrainingData.gopherRules]]. */
  def x28sGopherRules(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.gopherRules(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** The per-doc lang-id prediction frame shared by [[x28cLangId]] and
    * the x119 confusion matrix. */
  private def langPredictions(s: SparkSession, d: String): DataFrame = {
    val en = Seq("the", "and", "of")
    val es = Seq("el", "la", "de")
    val fr = Seq("le", "et", "un")
    def score(ws: Seq[String]) = size(filter(col("tk"), t => t.isInCollection(ws)))
    t(s, d, "documents")
      .withColumn("tk", tokens(col("text")))
      .withColumn("s_en", score(en))
      .withColumn("s_es", score(es))
      .withColumn("s_fr", score(fr))
      .select(col("doc_id"), col("lang").as("labelled_lang"),
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
          .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
          .when(col("s_fr") > 0, "fr")
          .otherwise("unknown").as("pred_lang"),
        col("s_en"), col("s_es"), col("s_fr"))
  }

  /** X28 — language-ID heuristic: stopword-marker voting (the n-gram
    * heuristic degenerates to marker tokens on this synthetic corpus). */
  def x28cLangId(s: SparkSession, d: String): DataFrame =
    langPredictions(s, d).orderBy(col("doc_id"))

  /** X119 — the lang-id heuristic EVALUATED: confusion matrix of the
    * x28c predictions against the fixture's labelled lang — diagonal
    * rows are per-class recall (micros), off-diagonal rows name which
    * languages the marker heuristic confuses. The audit that decides
    * whether a classifier may gate corpus routing. Fixture binding of
    * [[graft.api.TrainingData.confusionMatrix]]. */
  def x119LangConfusion(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.confusionMatrix(
      langPredictions(s, d), "labelled_lang", "pred_lang")
      .orderBy(col("label"), col("pred"))

  /** X122 — exact Spearman rank correlation between the two cheapest
    * per-doc quality signals (n_chars vs whitespace token count): rank
    * agreement is what a FILTER consumes, and Pearson on raw values is
    * hostage to the outliers ranks ignore. Fixture binding of
    * [[graft.api.TrainingData.spearmanExact]]. */
  def x122Spearman(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.spearmanExact(
      t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("n_chars").as("xc"),
          size(graft.ops.DedupOps.tokens(col("text"))).as("yc")),
      "xc", "yc")

  /** X122b — the bucketed Spearman over the same signal pair (32
    * equal-width buckets per axis): the beyond-4·10⁹-rows scale path —
    * every post-projection relation is capped at nBuckets, and the
    * integer bucket derivation replays in the oracle, so the coarsened
    * statistic is hash-checked rather than approximate-and-trusted.
    * Fixture binding of [[graft.api.TrainingData.spearmanBucketed]]. */
  def x122bSpearmanBucketed(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.spearmanBucketed(
      t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("n_chars").as("xc"),
          size(graft.ops.DedupOps.tokens(col("text"))).as("yc")),
      "xc", "yc", nBuckets = 32)

  /** X136 — Chao1 vocabulary-richness estimate off the shared token
    * counts: how many vocabulary types the corpus still owes us — x61
    * reads the seen head, x100 prices unseen MASS, this counts unseen
    * TYPES. Fixture binding of
    * [[graft.api.TrainingData.chao1Richness]]. */
  def x136Chao1(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.chao1Richness(tfRel(s, d))

  /** X28 — tf-idf: highest-scoring term per document. idf is the only
    * libm-touched value (ln) → rounded at 6 decimals on both sides.
    *
    * The per-doc argmax is a `min(struct(−score, tok))` aggregation —
    * (score DESC, tok ASC) order encoded as a struct comparison — which
    * partial-aggregates map-side instead of sorting each doc's terms in a
    * window (same trick as the IVF assign, VectorOps.scala). */
  def x28dTfIdf(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // explode-then-WHERE keeps the empty-token filter inside codegen
    // (an array filter() lambda is interpreted per element)
    val tf = docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df_, "tok").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("tok").as("tok"))).as("best"))
      .select(col("doc_id"), col("best.tok").as("top_term"),
        (-col("best.ns")).as("score"))
      .orderBy(col("doc_id"))
  }

  /** X28 — BPE-style pre-tokenization: regex token classes (letter runs,
    * digit runs, single punctuation) rather than whitespace splitting —
    * the shape of a GPT-2-style pre-tokenizer's first pass. */
  def x28fBpeTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("tk",
        regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      .select(col("doc_id"),
        size(col("tk")).as("n_bpe_tokens"),
        size(array_distinct(col("tk"))).as("n_distinct_bpe"),
        // try_ variant: empty token array → NULL like the oracle's [1]
        // (plain element_at throws under Spark 4's default ANSI mode)
        try_element_at(col("tk"), lit(1)).as("first_tok"))
      .orderBy(col("doc_id"))

  /** X28 — PII/pattern scan: per-doc counts of email-, URL-, and
    * long-digit-run-shaped substrings plus the redacted length — the
    * filtering/cleaning pass of a training-data pipeline. Patterns stay in
    * the Java∩RE2 regex dialect intersection so the DuckDB oracle matches
    * byte-for-byte. */
  def x28gPiiScan(s: SparkSession, d: String): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
    val url = "https?://[^ \\t\\n\\r\\f]+"
    val digits = "[0-9][0-9][0-9][0-9]+"
    t(s, d, "documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("int").as("n_emails"),
        regexp_count(col("text"), lit(url)).cast("int").as("n_urls"),
        regexp_count(col("text"), lit(digits)).cast("int").as("n_digit_runs"),
        length(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
          digits, "<NUM>")).as("redacted_len"))
      .orderBy(col("doc_id"))
  }

  /** X28 — corpus-level top-10 bigrams (n-gram LM prep), deterministic
    * (count DESC, bigram ASC); plans as partial-agg →
    * TakeOrderedAndProject. Fixture binding of
    * [[graft.api.TrainingData.topBigrams]] (see there for the linear
    * zip_with adjacency rationale). */
  def x28hTopBigrams(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.topBigrams(t(s, d, "documents"), "text", 10)

  /** X79 — top-50 bigram collocations by PMI (min count 5): the
    * statistical phrase detector above x28h's raw-count top bigrams.
    * Rides the SHARED cached token/bigram count relations. Fixture
    * binding of [[graft.api.TrainingData.pmiCollocationsFromCounts]]. */
  def x79PmiCollocations(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.pmiCollocationsFromCounts(
      bgRel(s, d), tfRel(s, d), minCount = 5L, k = 50)

  /** X80 — top-50 burstiest terms (min df 5): variance-to-mean of tf
    * across all documents, the boilerplate/template detector. Rides the
    * SHARED cached token-count relation; the doc total comes from the
    * table count. Fixture binding of
    * [[graft.api.TrainingData.termBurstinessFromCounts]]. */
  def x80TermBurstiness(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.termBurstinessFromCounts(
      tfRel(s, d), t(s, d, "documents").agg(count(lit(1)).as("nd")),
      minDf = 5L, k = 50)

  /** X28 — document fingerprint: 16-hex-char prefix of the content hash of
    * the token-normalized text (whitespace-insensitive exact dedup key).
    * Fixture binding of [[graft.api.TrainingData.fingerprint]]. */
  def x28eFingerprint(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.fingerprint(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** X28 — within-document repetition (Gopher-rule-style quality signal):
    * top-bigram share + duplicate-trigram share per document. Fixture
    * binding of [[graft.api.TrainingData.repetitionStats]]. */
  def x28iRepetition(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.repetitionStats(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** X28 — unigram language-model scoring: mean token surprisal under the
    * corpus's own unigram distribution (the cheap perplexity-style
    * quality filter). Fixture binding of
    * [[graft.api.TrainingData.unigramLmScores]] (see there for the
    * micro-nat integer quantization that makes the sums portable). */
  /** X28 — per-document unigram entropy (token-diversity quality
    * signal): low entropy flags boilerplate/keyword-stuffed text the
    * repetition fractions alone can miss. Fixture binding of
    * [[graft.api.TrainingData.tokenEntropy]]. */
  def x28tTokenEntropy(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.tokenEntropy(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  def x28jUnigramLm(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.unigramLmScoresFromCounts(tfRel(s, d))
      .orderBy(col("doc_id"))

  /** X28 — bigram language-model scoring (Laplace-smoothed): mean bigram
    * surprisal under the corpus's own bigram distribution — the stronger
    * fluency filter next to [[x28jUnigramLm]]. Fixture binding of
    * [[graft.api.TrainingData.bigramLmScores]]. */
  def x28nBigramLm(s: SparkSession, d: String): DataFrame =
    nllRel(s, d).orderBy(col("doc_id"))

  /** X44 — curriculum bucketing by model-based difficulty: each document
    * assigned to one of four difficulty quartiles of its bigram-LM mean
    * surprisal ([[x28nBigramLm]]'s score — fluent text scores low, hard/
    * noisy text high), the ordering curriculum-learning schedules train
    * on easy→hard. SCALE SHAPE: no global ntile sort (a corpus-sized
    * single-partition window); instead the three exact quartile
    * thresholds come from ONE aggregation (round-6 so both engines
    * compare the same values), broadcast back, and the bucket is a
    * row-local comparison count — ties get the same bucket, which is the
    * semantics a threshold curriculum wants anyway. */
  def x44Curriculum(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.difficultyBuckets(nllRel(s, d), "avg_nll", 4)
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"), col("bucket"))
      .orderBy(col("doc_id"))

  /** X46 — T5-style span corruption (period 7, span length 2 →
    * ~28 % corruption): content-addressed denoising pairs. Fixture
    * binding of [[graft.api.TrainingData.spanCorrupt]]. */
  def x46SpanCorrupt(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.spanCorrupt(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** X47 — fill-in-the-middle: PSM-ordered prefix/suffix/middle splits
    * at two content-addressed cuts. Fixture binding of
    * [[graft.api.TrainingData.fimTransform]]. */
  def x47Fim(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.fimTransform(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** X51 — UL2 mixture-of-denoisers: each document content-addressed to
    * one of R (span corruption, period 7), X (extreme corruption,
    * period 4), or S (prefix-LM) with the mode token prepended. Fixture
    * binding of [[graft.api.TrainingData.ul2Mixture]]. */
  def x51Ul2(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.ul2Mixture(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** X28 — whitespace/case normalization, driven on deterministically
    * DIRTIED input (the fixture text is already clean, so the query first
    * uppercases it, triples interior spaces, and pads the ends — then the
    * op must restore the canonical form). Fixture binding of
    * [[graft.api.TrainingData.normalizeText]]. */
  def x28kNormalize(s: SparkSession, d: String): DataFrame = {
    val dirty = concat(lit("  "),
      regexp_replace(upper(col("text")), " ", "   "), lit("  "))
    graft.api.TrainingData.normalizeText(
      t(s, d, "documents").withColumn("dirty", dirty), "doc_id", "dirty")
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).as("n_chars_norm"))
      .orderBy(col("doc_id"))
  }

  /** X28 — PII redaction on deterministically INJECTED PII (the fixture
    * text contains none): each doc gains an email, a URL, and a padded
    * digit run keyed by its id; the op must replace all three with
    * placeholder tokens. `n_redactions` counts raw pattern hits on the
    * dirty text (a digit run inside the email/URL counts — the patterns
    * are independent scans). Fixture binding of
    * [[graft.api.TrainingData.redactPii]]. */
  def x28lRedact(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val dirty = concat(col("text"), lit(" contact u"), id,
      lit("@example.com or https://ex.org/p/"), id, lit(" ref "),
      lpad(id, 6, "0"))
    graft.api.TrainingData.redactPii(
      t(s, d, "documents").withColumn("dirty", dirty), "doc_id", "dirty")
      .orderBy(col("doc_id"))
  }

  /** X28 — corpus heavy hitters via the bounded-memory `approx_top_k`
    * sketch: the scale twin of the exact [[x28hTopBigrams]] counting.
    * Rows-only by design (boundary ties are sketch-internal); LlmOpsSpec
    * asserts sketch-vs-exact equality on this fixture, where the
    * vocabulary fits the sketch. Fixture binding of
    * [[graft.api.TrainingData.heavyHitters]]. */
  def x28mHeavyHitters(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.heavyHitters(t(s, d, "documents"), "text", 10)

  // One BPE training per (app, dir): the merge table (a literal 8-row
  // relation, nothing to persist) and the persisted vocab (both fixture
  // queries and every training round's argmax consume it) come out of
  // the same bpeTrain call, so one site holds the pair.
  private def bpeTrained(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    cachedPerApp("TextOps.bpe", s, d) {
      val (merges, vocab) = graft.api.TrainingData.bpeTrain(
        t(s, d, "documents"), "doc_id", "text", numMerges = 8)
      (merges, vocab.persist())
    }

  /** X28 — BPE tokenizer TRAINING, distributed: the merge table learned
    * from the corpus itself — 8 rounds of most-frequent-adjacent-pair
    * over the (word, count) vocabulary relation, ties to the
    * lexicographically smallest pair, each round one hash aggregation
    * with a single argmax row reaching the driver. The DuckDB oracle
    * replays the ENTIRE training — seed char segmentation, all 8
    * pair-count/argmax/fold rounds — via list_reduce (ORACLES.md).
    * Fixture binding of [[graft.api.TrainingData.bpeTrain]]. */
  def x28oBpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrained(s, d)._1.orderBy(col("iter"))

  /** X28 — segmentation under the trained tokenizer: every document's
    * token sequence rewritten as the learned pieces (equi-join on the
    * word against the trained vocabulary, pieces reassembled in document
    * order). Fixture binding of [[graft.api.TrainingData.bpeSegment]]
    * over the cached [[bpeTrained]] vocabulary. */
  def x28pBpeSegment(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.bpeSegment(
      t(s, d, "documents"), "doc_id", "text", bpeTrained(s, d)._2)
      .orderBy(col("doc_id"))

  // Half-corpus tokenizer for x52: trained on doc_id < 250 only, so the
  // OTHER half genuinely contains out-of-vocabulary words — a same-corpus
  // vocab contains every word by construction and the analysis would be
  // vacuous (fixture and stress corpora both keep ids below 250 plus
  // high-id rows, so the split is non-degenerate at every vintage).
  private def bpeHalfTrained(s: SparkSession, d: String): DataFrame =
    cachedPerApp("TextOps.bpeHalf", s, d) {
      val (_, vocab) = graft.api.TrainingData.bpeTrain(
        t(s, d, "documents").filter(col("doc_id") < 250),
        "doc_id", "text", numMerges = 8)
      vocab.persist()
    }

  /** X52 — tokenizer-quality analysis: fertility (pieces per word) and
    * OOV rate of every document under the tokenizer trained on the
    * doc_id < 250 half — the "does this vocab fit this data" QA read a
    * tokenizer change gets before a training run. Fixture binding of
    * [[graft.api.TrainingData.tokenizerStats]]. */
  def x52TokenizerStats(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.tokenizerStats(
      t(s, d, "documents"), "doc_id", "text", bpeHalfTrained(s, d))
      .orderBy(col("doc_id"))

  // Batched BPE training cached the same way. The merge table is a
  // ≤(rounds·batch)-row relation whose lineage reruns the training
  // rounds, so it is collected once into a local relation.
  private def bpeBatchTrained(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    cachedPerApp("TextOps.bpeBatched", s, d) {
      val (merges, vocab) = graft.api.TrainingData.bpeTrainBatched(
        t(s, d, "documents"), "doc_id", "text", rounds = 4, batch = 4)
      (s.createDataFrame(java.util.Arrays.asList(merges.collect(): _*),
        merges.schema), vocab.persist())
    }

  /** X28 — BATCHED BPE training, the at-scale twin of [[x28oBpeTrain]]:
    * 4 rounds × up to 4 symbol-disjoint merges per round = 16 merges in
    * 4 driver barriers, vs 8 merges in 8 barriers for the sequential
    * form ([[graft.api.TrainingData.bpeTrainBatched]] — disjointness
    * makes the one-pass batch fold confluent, so the schedule is
    * deterministic). The DuckDB oracle replays the ENTIRE batched
    * training: the greedy disjoint selection is nested argmax CTEs (each
    * rank filters against the symbols of the previously admitted pairs)
    * and the batch fold is a list_reduce whose fuse condition is
    * membership in the round's admitted-pair list (ORACLES.md). */
  def x28qBpeTrainBatched(s: SparkSession, d: String): DataFrame =
    bpeBatchTrained(s, d)._1.orderBy(col("round"), col("rank"))

  /** X28 — segmentation under the BATCHED tokenizer: [[x28pBpeSegment]]
    * with the 16-merge batched vocabulary, proving the batched schedule
    * produces a usable end-to-end tokenizer (not just a merge table). */
  def x28rBpeSegmentBatched(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.bpeSegment(
      t(s, d, "documents"), "doc_id", "text", bpeBatchTrained(s, d)._2)
      .orderBy(col("doc_id"))

  /** X41 — C4-style line/boilerplate filtering
    * ([[graft.api.TrainingData.filterLines]]): drop lines that are too
    * short (< 5 tokens) or carry boilerplate markers ('|' menu
    * separators, 'click here' calls-to-action), keep the rest in order.
    * The fixture corpus is a flat token stream, so — like x28k/x28l —
    * the multi-line input is built deterministically first: the token
    * stream chunked into 10-token lines, plus injected boilerplate (a
    * menu line on every doc; a banned-phrase line on doc_id % 5 = 0; a
    * too-short line on % 3 = 0 and % 2 = 0), so both engines filter the
    * same dirty document and both drop rules are exercised
    * independently (the menu line is long enough — dropped only for
    * '|'; 'subscribe now' is clean — dropped only for length). */
  def x41LineFilter(s: SparkSession, d: String): DataFrame = {
    val empty = array().cast("array<string>")
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val docs = t(s, d, "documents")
      .withColumn("tk", toks)
      .withColumn("nl",
        ceil(size(col("tk")).cast("double") / 10.0).cast("int"))
      .withColumn("body",
        when(size(col("tk")) === 0, empty)
          .otherwise(transform(sequence(lit(0), col("nl") - 1),
            i => array_join(slice(col("tk"), i * 10 + 1, lit(10)), " "))))
      .withColumn("dirty", array_join(concat(
        array(lit("home | about | contact")),
        col("body"),
        when(col("doc_id") % 5 === 0,
          array(lit("click here to read more today friends"))).otherwise(empty),
        when(col("doc_id") % 3 === 0,
          array(lit("subscribe now"))).otherwise(empty),
        when(col("doc_id") % 2 === 0, array(lit("ok"))).otherwise(empty)),
        "\n"))
    graft.api.TrainingData.filterLines(
      docs.select(col("doc_id"), col("dirty")), "doc_id", "dirty",
      minTokens = 5, banned = Seq("click here", "|"))
      .orderBy(col("doc_id"))
  }

  /** X48 — within-doc repeated-line dedup on deterministically DIRTIED
    * input (same recipe as x41: the clean fixture text is chunked into
    * 10-token lines, then the first line is repeated — twice for even
    * ids — and a 'subscribe now' banner injected twice). Fixture binding
    * of [[graft.api.TrainingData.dedupLines]]. */
  def x48LineDedup(s: SparkSession, d: String): DataFrame = {
    val empty = array().cast("array<string>")
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val docs = t(s, d, "documents")
      .withColumn("tk", toks)
      .withColumn("nl",
        ceil(size(col("tk")).cast("double") / 10.0).cast("int"))
      .withColumn("body",
        when(size(col("tk")) === 0, empty)
          .otherwise(transform(sequence(lit(0), col("nl") - 1),
            i => array_join(slice(col("tk"), i * 10 + 1, lit(10)), " "))))
      .withColumn("dup1",
        when(size(col("body")) >= 1, array(element_at(col("body"), 1)))
          .otherwise(empty))
      .withColumn("dirty", array_join(concat(
        col("body"),
        col("dup1"),
        array(lit("subscribe now"), lit("subscribe now")),
        when(col("doc_id") % 2 === 0, col("dup1")).otherwise(empty)),
        "\n"))
    graft.api.TrainingData.dedupLines(
      docs.select(col("doc_id"), col("dirty")), "doc_id", "dirty")
      .orderBy(col("doc_id"))
  }

  /** X61 — vocabulary coverage curve: top-100 token types with their
    * cumulative corpus share (the Zipf curve a vocab-sizing decision
    * reads). Fixture binding of
    * [[graft.api.TrainingData.vocabCoverageCurve]]. */
  def x61VocabCoverage(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.vocabCoverageCurve(
      t(s, d, "documents"), "text", 100)
      .orderBy(col("rank"))

  /** X64 — Min-K%-style hardest-token scores at k=20 over the unigram
    * LM: the membership-inference/robust-quality aggregate. Fixture
    * binding of [[graft.api.TrainingData.minKProbScores]]. */
  def x64MinKProb(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.minKProbScores(
      t(s, d, "documents"), "doc_id", "text", kPercent = 20)
      .orderBy(col("doc_id"))

  /** X66 — encoding-quality scan over a deterministically dirtied
    * fixture (the fixture text is clean, so control bytes and U+FFFD
    * are injected by id arithmetic BOTH engines replay — the x28l
    * pattern). Fixture binding of
    * [[graft.api.TrainingData.encodingQuality]]. */
  def x66EncodingScan(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.encodingQuality(
      t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit("\u0001\u0002")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit("\uFFFD")).otherwise(lit("")))
          .as("text")),
      "doc_id", "text")
      .orderBy(col("doc_id"))

  /** X151 — PII pattern scan + redaction audit per source, over a
    * deterministically PII-seeded fixture (the synthetic text is
    * clean, so emails/IPs/card numbers/phones are appended by id
    * arithmetic BOTH engines replay — the x66 injection pattern).
    * Fixture binding of [[graft.api.TrainingData.piiScan]]. */
  def x151PiiScan(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.piiScan(
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull)
        .select(col("source"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" contact u"), col("doc_id").cast("string"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
                lit(".1"))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              lit(" card 4111111111111111")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0,
              lit(" tel +1 555-123-4567")).otherwise(lit("")))
            .as("text")),
      "source", "text")

  /** X153 — information gain of the source about the language: H(lang)
    * − H(lang | source) in micro-nats plus the C4.5 gain ratio — x77's
    * χ² says the two are dependent, this prices the dependence in nats
    * (a curation report ranks candidate routing features by it).
    * Fixture binding of [[graft.api.TrainingData.informationGain]]. */
  def x153InfoGain(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.informationGain(
      t(s, d, "documents"), "source", "lang")

  /** X170 — Cramér's V effect size of the source↔language dependence:
    * x77's χ² says "not independent", this says HOW FAR on [0,1]
    * (reported as V² micros), comparable across tables of any size,
    * with the Bergsma bias-corrected form alongside. Fixture binding
    * of [[graft.api.TrainingData.cramersV]]. */
  def x170CramersV(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.cramersV(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull),
      "source", "lang")

  /** X171 — two-sample Cramér–von Mises drift between English and
    * non-English length distributions: the INTEGRATED ECDF gap next to
    * x90's KS (worst single gap) and x155's PSI (binned, smoothed) —
    * broad mid-distribution drift that a sup-norm misses moves this.
    * Fixture binding of [[graft.api.TrainingData.cvmTwoSample]]. */
  def x171CvmDrift(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.cvmTwoSample(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").as("is_en"), col("n_chars")),
      "is_en", "n_chars")

  /** X172 — Kendall's τ-b between the two x158 ordinal graders
    * (char-length decile vs token-count decile): "of all comparable
    * doc pairs, how many do the two heuristics order the same way" —
    * the pair-level agreement read beside Spearman's rank-linear x122
    * and x158's cell-level κ. Fixture binding of
    * [[graft.api.TrainingData.kendallTauB]]. */
  def x172KendallTau(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.kendallTauB(
      t(s, d, "documents")
        .filter(col("n_chars").isNotNull && col("text").isNotNull)
        .select(least(lit(9L), expr("n_chars div 60")).as("gx"),
          least(lit(9L), expr("size(filter(split(text, ' '), " +
            "t -> t != '')) div 10")).as("gy")),
      "gx", "gy")

  /** X177 — Mantel–Haenszel pooled odds ratio of long-doc → English
    * WITHIN sources: x170 says length and language associate; this
    * asks whether the association survives source stratification or
    * was Simpson's-paradox source mix all along. Fixture binding of
    * [[graft.api.TrainingData.mantelHaenszel]]. */
  def x177MantelHaenszel(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.mantelHaenszel(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull &&
          col("lang").isNotNull)
        .select(col("source"), (col("n_chars") >= 200).as("long_doc"),
          (col("lang") === "en").as("is_en")),
      "source", "long_doc", "is_en")

  /** X182 — corpus-level BLEU-2 of the even-id half against the odd-id
    * half: clipped 1/2-gram precision with the brevity penalty — the
    * "how much of this batch is lexically licensed by the seed" QA
    * read for generated data, x60's novelty inverted. Fixture binding
    * of [[graft.api.TrainingData.bleuNgramPrecision]]. */
  def x182BleuPrecision(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    graft.api.TrainingData.bleuNgramPrecision(
      docs.filter(col("doc_id") % 2 === 0).select(col("text")),
      docs.filter(col("doc_id") % 2 =!= 0).select(col("text")),
      "text")
  }

  /** X168 — Jensen–Shannon divergence between the English and
    * non-English documents' token distributions: the symmetric,
    * always-finite corpus distance (bounded by ln 2) next to the
    * asymmetric KL and the binned PSI (x155) — the pairwise read a
    * mixture planner can treat as a metric. Fixture binding of
    * [[graft.api.TrainingData.jsDivergence]]. */
  def x168JsDivergence(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("text").isNotNull)
    def toks(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(graft.ops.DedupOps.tokens(col("text"))).as("token"))
    graft.api.TrainingData.jsDivergence(
      toks(docs.filter(col("lang") === "en")),
      toks(docs.filter(col("lang") =!= "en")), "token")
  }

  /** X155 — Population Stability Index between English and non-English
    * documents' length distributions: the binned production-ML drift
    * gauge next to x90's KS (PSI is what monitoring dashboards quote —
    * < 0.1 stable, > 0.25 moved), add-one smoothed so empty bins
    * penalize finitely. Fixture binding of
    * [[graft.api.TrainingData.psiDrift]]. */
  def x155PsiDrift(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
    graft.api.TrainingData.psiDrift(
      docs.filter(col("lang") === "en").select(col("n_chars")),
      docs.filter(col("lang") =!= "en").select(col("n_chars")),
      "n_chars", bins = 10)
  }

  /** X158 — weighted Cohen's κ between two ordinal quality graders
    * (char-length decile vs token-count decile, quadratic penalty):
    * chance-corrected agreement where near-misses cost little — x99's
    * Fleiss κ handles many raters on nominal labels, this is the
    * two-rater ORDINAL read ("do these two heuristics grade the same
    * corpus the same way"). Fixture binding of
    * [[graft.api.TrainingData.cohenKappaWeighted]]. */
  def x158CohenKappa(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.cohenKappaWeighted(
      t(s, d, "documents")
        .filter(col("n_chars").isNotNull && col("text").isNotNull)
        .select(least(lit(9L), expr("n_chars div 60")).as("grade_chars"),
          least(lit(9L), expr("size(filter(split(text, ' '), " +
            "t -> t != '')) div 10")).as("grade_tokens")),
      "grade_chars", "grade_tokens")

  /** X69 — rank-fusion quality scoring: three integer token-stat signals
    * mapped to corpus deciles (exact-percentile edge vector, broadcast)
    * and averaged — multi-signal quality without hand-tuned weights or a
    * whole-corpus window. Fixture binding of
    * [[graft.api.TrainingData.ecdfFusion]] over
    * [[graft.api.TrainingData.tokenStats]]. */
  def x69QualityFusion(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.ecdfFusion(
      graft.api.TrainingData.tokenStats(t(s, d, "documents"), "doc_id", "text"),
      "doc_id", Seq("n_tokens", "n_distinct", "n_chars"), nBuckets = 10)
      .orderBy(col("id"))

  /** X70 — Jelinek-Mercer interpolated bigram LM scoring (λ = 0.75):
    * the backoff-style fluency filter one notch above the Laplace
    * bigram LM (x28n). Fixture binding of
    * [[graft.api.TrainingData.interpolatedBigramLm]]. */
  def x70InterpLm(s: SparkSession, d: String): DataFrame =
    // rides the SHARED cached bigram/token count relations (r16): the
    // direct form re-tokenized the corpus on three plan branches
    graft.api.TrainingData.interpolatedBigramLmFromCounts(
      bgRel(s, d), tfRel(s, d), lambda = 0.75)
      .orderBy(col("doc_id"))

  /** X76 — BM25 retrieval top-k: the eval docs (doc_id < 50, the x33
    * probe convention) retrieve their 5 most-relevant corpus documents
    * by Okapi BM25 — the lexical-retrieval primitive behind
    * beyond-n-gram decontamination and retrieval-label mining. Fixture
    * binding of [[graft.api.TrainingData.bm25TopK]] (k1 = 1.2,
    * b = 0.75). */
  def x76Bm25TopK(s: SparkSession, d: String): DataFrame = {
    // rides the SHARED cached token-count relation: corpus postings and
    // query terms are both slices of tfRel, so the corpus tokenizes
    // zero extra times here (it used to re-tokenize on all three
    // posting branches — the slowest query in the r11 bench stamp)
    val tf = tfRel(s, d)
    graft.api.TrainingData.bm25TopKFromCounts(
      tf.filter(col("doc_id") >= 50)
        .select(col("doc_id"), col("tok").as("term"), col("tf")),
      tf.filter(col("doc_id") < 50)
        .select(col("doc_id").as("q_id"), col("tok").as("term")).distinct(),
      k = 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** X77 — per-source chi-square drift vs the corpus-wide language
    * distribution: the contingency-table screen next to x63's KL matrix.
    * Fixture binding of [[graft.api.TrainingData.sourceDriftChi2]]. */
  def x77SourceChi2(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.sourceDriftChi2(
      t(s, d, "documents"), "source", "lang")
      .orderBy(col("source"))

  /** X85 — per-source Zipf slope: OLS of ln(freq) on ln(rank) over each
    * source's term distribution — the power-law provenance screen
    * (natural text ≈ −1; templated sources flatten). Fixture binding of
    * [[graft.api.TrainingData.zipfSlope]]. */
  def x85ZipfSlope(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.zipfSlope(t(s, d, "documents"), "source", "text")
      .orderBy(col("stratum"))

  /** X90 — per-source KS drift on document length: the exact sup-norm
    * CDF distance vs the corpus, the binless distribution screen next
    * to x77's χ² and x63's KL. Fixture binding of
    * [[graft.api.TrainingData.ksDrift]]. */
  def x90KsDrift(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.ksDrift(t(s, d, "documents"), "source", "n_chars")
      .orderBy(col("stratum"))

  /** X91 — windowed skip-gram PMI (±4 tokens, min count 5, top 50): the
    * topical-association detector where x79's adjacent-bigram PMI finds
    * phrases. Fixture binding of
    * [[graft.api.TrainingData.skipgramPmi]]. */
  def x91SkipgramPmi(s: SparkSession, d: String): DataFrame =
    // margins ride the SHARED cached token-count relation (r17): the
    // direct form re-tokenized the corpus for the unigram margins on
    // top of the pair-enumeration pass (which alone needs raw arrays)
    graft.api.TrainingData.skipgramPmiFromCounts(
      t(s, d, "documents"), "doc_id", "text", tfRel(s, d),
      window = 4, minCount = 5L, k = 50)

  /** X95 — per-source n-gram saturation (n = 1..3): type-token ratios
    * over n-grams with multiplicity, the template-spam/diversity
    * audit. Fixture binding of
    * [[graft.api.TrainingData.ngramSaturation]]. */
  def x95NgramSaturation(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.ngramSaturation(
      t(s, d, "documents"), "source", "text", maxN = 3)
      .orderBy(col("source"), col("n"))

  /** X100 — per-source simple Good–Turing unseen-mass estimate: N₁/N
    * in exact integer micros plus the count-of-counts inputs — "how
    * much vocabulary have we NOT seen from this source yet", the
    * forward-looking companion of x61's coverage curve and x95's
    * saturation. Fixture binding of
    * [[graft.api.TrainingData.goodTuringMass]]. */
  def x100GoodTuring(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.goodTuringMass(
      t(s, d, "documents"), "source", "text")
      .orderBy(col("source"))

  /** X103 — robust length-outlier flags: per-source modified z-scores
    * (median/MAD — immune to the outliers themselves) over n_chars,
    * flagged past 2.0 (the fixture's synthetic lengths are tight;
    * the Iglewicz–Hoaglin 3.5 is the API default for real corpora).
    * Fixture binding of [[graft.api.TrainingData.robustOutliers]]. */
  def x103RobustOutliers(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.robustOutliers(
      t(s, d, "documents"), "source", "n_chars", "doc_id", threshold = 2.0)
      .orderBy(col("doc_id"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x151_pii_scan" -> (x151PiiScan _),
    "x153_info_gain" -> (x153InfoGain _),
    "x168_js_divergence" -> (x168JsDivergence _),
    "x170_cramers_v" -> (x170CramersV _),
    "x171_cvm_drift" -> (x171CvmDrift _),
    "x172_kendall_tau" -> (x172KendallTau _),
    "x177_mantel_haenszel" -> (x177MantelHaenszel _),
    "x182_bleu_precision" -> (x182BleuPrecision _),
    "x158_cohen_kappa" -> (x158CohenKappa _),
    "x155_psi_drift" -> (x155PsiDrift _),
    "x103_robust_outliers" -> (x103RobustOutliers _),
    "x100_good_turing" -> (x100GoodTuring _),
    "x95_ngram_saturation" -> (x95NgramSaturation _),
    "x91_skipgram_pmi" -> (x91SkipgramPmi _),
    "x90_ks_drift" -> (x90KsDrift _),
    "x85_zipf_slope" -> (x85ZipfSlope _),
    "x79_pmi_collocations" -> (x79PmiCollocations _),
    "x80_term_burstiness" -> (x80TermBurstiness _),
    "x76_bm25_topk" -> (x76Bm25TopK _),
    "x77_source_chi2" -> (x77SourceChi2 _),
    "x69_quality_fusion" -> (x69QualityFusion _),
    "x70_interp_lm" -> (x70InterpLm _),
    "x61_vocab_coverage" -> (x61VocabCoverage _),
    "x64_min_k_prob" -> (x64MinKProb _),
    "x66_encoding_scan" -> (x66EncodingScan _),
    "x28_token_stats" -> (x28Tokens _),
    "x41_line_filter" -> (x41LineFilter _),
    "x48_line_dedup" -> (x48LineDedup _),
    "x28o_bpe_train" -> (x28oBpeTrain _),
    "x28p_bpe_segment" -> (x28pBpeSegment _),
    "x28q_bpe_train_batched" -> (x28qBpeTrainBatched _),
    "x28r_bpe_segment_batched" -> (x28rBpeSegmentBatched _),
    "x28k_normalize" -> (x28kNormalize _),
    "x28l_redact" -> (x28lRedact _),
    "x28m_heavy_hitters" -> (x28mHeavyHitters _),
    "x28j_unigram_lm" -> (x28jUnigramLm _),
    "x28n_bigram_lm" -> (x28nBigramLm _),
    "x44_curriculum" -> (x44Curriculum _),
    "x46_span_corrupt" -> (x46SpanCorrupt _),
    "x47_fim" -> (x47Fim _),
    "x51_ul2_mixture" -> (x51Ul2 _),
    "x52_tokenizer_stats" -> (x52TokenizerStats _),
    "x28i_repetition" -> (x28iRepetition _),
    "x28b_quality_score" -> (x28bQuality _),
    "x28s_gopher_rules" -> (x28sGopherRules _),
    "x28t_token_entropy" -> (x28tTokenEntropy _),
    "x28c_lang_id" -> (x28cLangId _),
    "x119_lang_confusion" -> (x119LangConfusion _),
    "x122_spearman" -> (x122Spearman _),
    "x122b_spearman_bucketed" -> (x122bSpearmanBucketed _),
    "x136_chao1" -> (x136Chao1 _),
    "x28d_tfidf_top_term" -> (x28dTfIdf _),
    "x28f_bpe_tokens" -> (x28fBpeTokens _),
    "x28e_fingerprint" -> (x28eFingerprint _),
    "x28g_pii_scan" -> (x28gPiiScan _),
    "x28h_top_bigrams" -> (x28hTopBigrams _))

  private val toksSql =
    "list_filter(string_split(lower(text), ' '), t -> t <> '')"

  // The bigram-LM per-doc surprisal relation as a reusable CTE chain
  // (`dnll`: doc_id, n_bigrams, avg_nll) — shared by the x28n oracle and
  // the x44 curriculum oracle, the same way ivfBuildCtes is shared on
  // the vector side. sum(BIGINT) promotes to HUGEINT in DuckDB, so every
  // aggregate is cast back before use.
  private lazy val bigramNllCtes: String =
    s"""toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |bg AS (
       |  SELECT doc_id, g, count(*) AS bf FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |      i -> tk[i] || ' ' || tk[i+1])) AS g
       |    FROM toks WHERE len(tk) >= 2)
       |  GROUP BY 1, 2),
       |cuv AS (SELECT g, CAST(sum(bf) AS BIGINT) AS c_uv FROM bg GROUP BY 1),
       |cu AS (SELECT split_part(g, ' ', 1) AS u, CAST(sum(c_uv) AS BIGINT) AS c_u
       |  FROM cuv GROUP BY 1),
       |vocab AS (
       |  SELECT count(DISTINCT tok) AS v
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents)),
       |q AS (
       |  SELECT g,
       |    CAST(round(ln(CAST(c_u + v AS DOUBLE) / (c_uv + 1)) * 1000000) AS BIGINT) AS nllq
       |  FROM cuv JOIN cu ON split_part(cuv.g, ' ', 1) = cu.u
       |  CROSS JOIN vocab),
       |dnll AS (
       |  SELECT doc_id,
       |    CAST(sum(bf) AS BIGINT) AS n_bigrams,
       |    round(CAST(CAST(sum(bf * nllq) AS BIGINT) AS DOUBLE) /
       |      (CAST(CAST(sum(bf) AS BIGINT) AS DOUBLE) * 1000000), 6) AS avg_nll
       |  FROM bg JOIN q USING (g)
       |  GROUP BY doc_id)""".stripMargin

  // The full BPE training replay as one CTE chain: seed char-split
  // vocabulary w0, then per round i the pair counts p{i} over w{i-1},
  // the argmax m{i} (cnt DESC, lhs, rhs — Spark's orderBy), and the
  // fold-applied vocabulary w{i} via list_reduce, whose seed-with-first
  // string fold is exactly TrainingData.applyBpeMerge's aggregate()
  // (validated merge-for-merge by the x28o hash compare).
  private def bpePairsCte(prev: String, p: String) =
    s"""$p AS (
       |  SELECT pr[1] AS lhs, pr[2] AS rhs, sum(wcount) AS cnt FROM (
       |    SELECT wcount,
       |      unnest(list_transform(range(1, len(string_split(syms, ' '))),
       |        j -> [string_split(syms, ' ')[j], string_split(syms, ' ')[j+1]])) AS pr
       |    FROM $prev)
       |  GROUP BY 1, 2)""".stripMargin
  private def bpeArgmaxCte(p: String, m: String) =
    s"$m AS (SELECT lhs, rhs, cnt FROM $p ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
  private def bpeApplyCte(prev: String, m: String, w: String) =
    s"""$w AS (
       |  SELECT word, wcount, list_reduce(string_split(syms, ' '), (acc, x) ->
       |    CASE WHEN list_extract(string_split(acc, ' '), -1) = $m.lhs AND x = $m.rhs
       |      THEN CASE WHEN len(string_split(acc, ' ')) = 1 THEN $m.lhs || $m.rhs
       |        ELSE array_to_string(list_slice(string_split(acc, ' '), 1,
       |          len(string_split(acc, ' ')) - 1), ' ') || ' ' || $m.lhs || $m.rhs END
       |      ELSE acc || ' ' || x END) AS syms
       |  FROM $prev CROSS JOIN $m)""".stripMargin
  // parameterized over a row filter so x52 can train on the doc_id < 250
  // half verbatim with the same 8-round chain
  private def bpeBuildCtesOn(where: String): String = {
    val w0 =
      s"""tokw AS (
         |  SELECT unnest($toksSql) AS word FROM documents$where),
         |w0 AS (
         |  SELECT word, count(*) AS wcount,
         |    array_to_string(list_transform(range(1, length(word) + 1),
         |      i -> substring(word, i, 1)), ' ') AS syms
         |  FROM tokw GROUP BY word)""".stripMargin
    val rounds = (1 to 8).map { i =>
      Seq(bpePairsCte(s"w${i - 1}", s"p$i"), bpeArgmaxCte(s"p$i", s"m$i"),
        bpeApplyCte(s"w${i - 1}", s"m$i", s"w$i")).mkString(",\n")
    }.mkString(",\n")
    s"$w0,\n$rounds"
  }
  private lazy val bpeBuildCtes: String = bpeBuildCtesOn("")

  // BATCHED BPE replay (x28q/x28r): per round r, pair counts bp{r} over
  // bw{r-1}; the greedy symbol-disjoint selection as NESTED argmax CTEs
  // bs{r}_1..bs{r}_4 — rank k admits the best pair whose lhs, rhs, and
  // fused lhs||rhs are all absent from bu{r}_{k-1}, the accumulated
  // symbol set of the previously admitted pairs (identical to the
  // driver-side greedy: skipped candidates block nothing) — then the
  // admitted-pair list bb{r} and the one-pass batch fold bw{r} whose
  // fuse condition is pair MEMBERSHIP in bb{r}. Validated
  // merge-for-merge by the x28q hash compare.
  private def bpeUsedCte(sels: Seq[String], u: String) =
    s"""$u AS MATERIALIZED (SELECT flatten(list([lhs, rhs, lhs || rhs])) AS syms FROM (
       |  ${sels.map(r => s"SELECT lhs, rhs FROM $r").mkString(" UNION ALL ")}))""".stripMargin
  private def bpeSelCte(p: String, used: Option[String], s: String) = used match {
    case None =>
      s"$s AS MATERIALIZED (SELECT lhs, rhs, cnt FROM $p ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
    case Some(u) =>
      s"""$s AS MATERIALIZED (
         |  SELECT p.lhs, p.rhs, p.cnt FROM $p p, $u u
         |  WHERE NOT list_contains(u.syms, p.lhs)
         |    AND NOT list_contains(u.syms, p.rhs)
         |    AND NOT list_contains(u.syms, p.lhs || p.rhs)
         |  ORDER BY p.cnt DESC, p.lhs, p.rhs LIMIT 1)""".stripMargin
  }
  private def bpeBatchCte(sels: Seq[String], b: String) =
    s"""$b AS MATERIALIZED (SELECT coalesce(list({'l': lhs, 'r': rhs}), []) AS prs FROM (
       |  ${sels.map(r => s"SELECT lhs, rhs FROM $r").mkString(" UNION ALL ")}))""".stripMargin
  private def bpeBatchApplyCte(prev: String, b: String, w: String) =
    s"""$w AS MATERIALIZED (
       |  SELECT word, wcount, list_reduce(string_split(syms, ' '), (acc, x) ->
       |    CASE WHEN list_contains(bb.prs,
       |        {'l': list_extract(string_split(acc, ' '), -1), 'r': x})
       |      THEN CASE WHEN len(string_split(acc, ' ')) = 1
       |          THEN list_extract(string_split(acc, ' '), -1) || x
       |        ELSE array_to_string(list_slice(string_split(acc, ' '), 1,
       |          len(string_split(acc, ' ')) - 1), ' ') || ' ' ||
       |          list_extract(string_split(acc, ' '), -1) || x END
       |      ELSE acc || ' ' || x END) AS syms
       |  FROM $prev CROSS JOIN $b bb)""".stripMargin
  private lazy val bpeBatchedCtes: String = {
    val bw0 =
      s"""btokw AS MATERIALIZED (
         |  SELECT unnest($toksSql) AS word FROM documents),
         |bw0 AS MATERIALIZED (
         |  SELECT word, count(*) AS wcount,
         |    array_to_string(list_transform(range(1, length(word) + 1),
         |      i -> substring(word, i, 1)), ' ') AS syms
         |  FROM btokw GROUP BY word)""".stripMargin
    val rounds = (1 to 4).map { r =>
      val sels = (1 to 4).map(k => s"bs${r}_$k")
      val selection = (1 to 4).flatMap { k =>
        val sel = bpeSelCte(s"bp$r",
          if (k == 1) None else Some(s"bu${r}_${k - 1}"), s"bs${r}_$k")
        if (k == 4) Seq(sel)
        else Seq(sel, bpeUsedCte(sels.take(k), s"bu${r}_$k"))
      }
      (Seq(bpePairsCte(s"bw${r - 1}", s"bp$r")) ++ selection ++
        Seq(bpeBatchCte(sels, s"bb$r"),
          bpeBatchApplyCte(s"bw${r - 1}", s"bb$r", s"bw$r"))).mkString(",\n")
    }.mkString(",\n")
    s"$bw0,\n$rounds"
  }

  val oracles: Map[String, String] = Map(
    // BLEU-2 replay: n-gram-type clip joins, truncated micro
    // precisions, the same BP and ln-space geometric-mean IEEE
    // sequences rounded once
    "x182_bleu_precision" ->
      s"""WITH ct AS (SELECT $toksSql AS tk FROM documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND doc_id % 2 = 0),
         |rt AS (SELECT $toksSql AS tk FROM documents
         |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |    AND doc_id % 2 <> 0),
         |c1 AS (SELECT g, CAST(count(*) AS BIGINT) AS cc
         |  FROM (SELECT unnest(tk) AS g FROM ct) GROUP BY 1),
         |r1 AS (SELECT g, CAST(count(*) AS BIGINT) AS cr
         |  FROM (SELECT unnest(tk) AS g FROM rt) GROUP BY 1),
         |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS cc
         |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1])) AS g
         |    FROM ct WHERE len(tk) >= 2) GROUP BY 1),
         |r2 AS (SELECT g, CAST(count(*) AS BIGINT) AS cr
         |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1])) AS g
         |    FROM rt WHERE len(tk) >= 2) GROUP BY 1),
         |tots AS (SELECT
         |  (SELECT CAST(sum(cc) AS BIGINT) FROM c1) AS cand_tokens,
         |  (SELECT CAST(sum(cr) AS BIGINT) FROM r1) AS ref_tokens,
         |  (SELECT CAST(coalesce(sum(cc), 0) AS BIGINT) FROM c2)
         |    AS cand_bigrams),
         |cl AS (SELECT
         |  (SELECT CAST(coalesce(sum(least(cc, cr)), 0) AS BIGINT)
         |    FROM c1 JOIN r1 USING (g)) AS clip1,
         |  (SELECT CAST(coalesce(sum(least(cc, cr)), 0) AS BIGINT)
         |    FROM c2 JOIN r2 USING (g)) AS clip2),
         |p AS (SELECT cand_tokens, ref_tokens, cand_bigrams, clip1,
         |    clip2,
         |    (1000000 * clip1) // cand_tokens AS p1_micros,
         |    CASE WHEN cand_bigrams = 0 THEN 0
         |      ELSE (1000000 * clip2) // cand_bigrams END AS p2_micros,
         |    CASE WHEN cand_tokens >= ref_tokens THEN 1000000
         |      ELSE CAST(round(exp(1.0 - CAST(ref_tokens AS DOUBLE)
         |        / cand_tokens) * 1000000.0, 0) AS BIGINT)
         |    END AS bp_micros
         |  FROM tots, cl)
         |SELECT cand_tokens, ref_tokens, cand_bigrams, clip1, clip2,
         |  p1_micros, p2_micros, bp_micros,
         |  CASE WHEN clip1 = 0 OR clip2 = 0 THEN 0
         |    ELSE CAST(round(CAST(bp_micros AS DOUBLE) / 1000000.0
         |      * exp(0.5 * (ln(CAST(clip1 AS DOUBLE) / cand_tokens)
         |      + ln(CAST(clip2 AS DOUBLE) / cand_bigrams)))
         |      * 1000000.0, 0) AS BIGINT)
         |  END AS bleu2_micros
         |FROM p""".stripMargin,
    // Mantel–Haenszel replay: per-stratum 2×2 cells, ad/n and bc/n
    // truncated to micros once per stratum, one pooled HUGEINT ratio
    "x177_mantel_haenszel" ->
      """WITH b AS (SELECT CAST(source AS VARCHAR) AS stratum,
        |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS e,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |    AND lang IS NOT NULL),
        |cells AS (SELECT stratum,
        |    CAST(sum(e * o) AS BIGINT) AS a,
        |    CAST(sum(e * (1 - o)) AS BIGINT) AS b2,
        |    CAST(sum((1 - e) * o) AS BIGINT) AS c,
        |    CAST(sum((1 - e) * (1 - o)) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1),
        |t2 AS (SELECT stratum, a, b2, c, d,
        |    CAST((1000000 * CAST(a AS HUGEINT) * d) // n AS BIGINT)
        |      AS ad_n_micros,
        |    CAST((1000000 * CAST(b2 AS HUGEINT) * c) // n AS BIGINT)
        |      AS bc_n_micros FROM cells),
        |pl AS (SELECT CAST(sum(ad_n_micros) AS BIGINT) AS sr,
        |    CAST(sum(bc_n_micros) AS BIGINT) AS ss FROM t2)
        |SELECT stratum, a, b2 AS b, c, d, ad_n_micros, bc_n_micros,
        |  CASE WHEN ss = 0 THEN NULL
        |    ELSE CAST((1000000 * CAST(sr AS HUGEINT)) // ss AS BIGINT)
        |  END AS or_mh_micros
        |FROM t2, pl ORDER BY stratum""".stripMargin,
    // Cramér's V replay: per-cell χ² terms truncated once in HUGEINT,
    // chained divisions to V² and the Bergsma-corrected V²− with the
    // same ≤1 denominator guard
    "x170_cramers_v" ->
      """WITH b AS (
        |  SELECT CAST(source AS VARCHAR) AS a, CAST(lang AS VARCHAR) AS bb
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL),
        |cells AS (SELECT a, bb, CAST(count(*) AS BIGINT) AS o
        |  FROM b GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY 1),
        |cbm AS (SELECT bb, CAST(sum(o) AS BIGINT) AS cn
        |  FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  CAST(count(DISTINCT a) AS BIGINT) AS r,
        |  CAST(count(DISTINCT bb) AS BIGINT) AS k FROM cells),
        |grid AS (SELECT ra.a, cbm.bb, rn, cn, coalesce(o, 0) AS o
        |  FROM ra CROSS JOIN cbm
        |  LEFT JOIN cells ON cells.a = ra.a AND cells.bb = cbm.bb),
        |chi AS (SELECT CAST(sum(
        |    CAST((1000000 * (CAST(o AS HUGEINT) * n
        |      - CAST(rn AS HUGEINT) * cn)
        |      * (CAST(o AS HUGEINT) * n - CAST(rn AS HUGEINT) * cn))
        |      // (CAST(n AS HUGEINT) * rn * cn) AS BIGINT)) AS BIGINT)
        |    AS chi2_micros
        |  FROM grid, nn)
        |SELECT n, r AS n_rows_cat, k AS n_cols_cat, chi2_micros,
        |  CASE WHEN least(r, k) <= 1 THEN NULL
        |    ELSE chi2_micros // (n * (least(r, k) - 1))
        |  END AS v_sq_micros,
        |  CASE WHEN least(r, k) <= 1 OR n <= 1
        |      OR least(r - ((r - 1) * (r - 1)) // (n - 1),
        |        k - ((k - 1) * (k - 1)) // (n - 1)) <= 1 THEN NULL
        |    ELSE greatest(0, (chi2_micros // n)
        |      - (1000000 * (r - 1) * (k - 1)) // (n - 1))
        |      // (least(r - ((r - 1) * (r - 1)) // (n - 1),
        |        k - ((k - 1) * (k - 1)) // (n - 1)) - 1)
        |  END AS v_sq_corrected_micros
        |FROM nn, chi""".stripMargin,
    // CvM replay: per-value cumulative sums, the three HUGEINT
    // cross-products, one chained truncated normalization
    "x171_cvm_drift" ->
      """WITH b AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
        |    n_chars AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |byv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS a,
        |    CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |cm AS (SELECT v, a, c,
        |    sum(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ca,
        |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cc
        |  FROM byv),
        |agg AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |    CAST(sum(c - a) AS BIGINT) AS n_b,
        |    sum(CAST(c AS HUGEINT) * ca * ca) AS saa,
        |    sum(CAST(c AS HUGEINT) * ca * (cc - ca)) AS sab,
        |    sum(CAST(c AS HUGEINT) * (cc - ca) * (cc - ca)) AS sbb
        |  FROM cm)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |    ELSE CAST((1000000 * (CAST(n_b AS HUGEINT) * n_b * saa
        |      - 2 * CAST(n_a AS HUGEINT) * n_b * sab
        |      + CAST(n_a AS HUGEINT) * n_a * sbb))
        |      // (CAST(n_a AS HUGEINT) * n_b * (n_a + n_b) * (n_a + n_b))
        |      AS BIGINT)
        |  END AS cvm_t_micros
        |FROM agg""".stripMargin,
    // Kendall τ-b replay: the cells² oriented theta-join, HUGEINT
    // C/D/tie counts, the two chained truncated divisions
    "x172_kendall_tau" ->
      """WITH b AS (
        |  SELECT least(9, n_chars // 60) AS x,
        |    least(9, len(list_filter(string_split(text, ' '),
        |      t -> t <> '')) // 10) AS y
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM cells),
        |p AS (SELECT
        |    sum(CASE WHEN q.x > p.x AND q.y > p.y
        |      THEN CAST(p.c AS HUGEINT) * q.c ELSE 0 END) AS conc,
        |    sum(CASE WHEN q.x > p.x AND q.y < p.y
        |      THEN CAST(p.c AS HUGEINT) * q.c ELSE 0 END) AS disc
        |  FROM cells p JOIN cells q
        |    ON q.x > p.x OR (q.x = p.x AND q.y > p.y)),
        |tx AS (SELECT sum(CAST(m AS HUGEINT) * (m - 1) // 2) AS tie_x
        |  FROM (SELECT x, CAST(sum(c) AS BIGINT) AS m
        |        FROM cells GROUP BY 1)),
        |ty AS (SELECT sum(CAST(m AS HUGEINT) * (m - 1) // 2) AS tie_y
        |  FROM (SELECT y, CAST(sum(c) AS BIGINT) AS m
        |        FROM cells GROUP BY 1)),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
        |SELECT n, n_cells, CAST(conc AS BIGINT) AS concordant,
        |  CAST(disc AS BIGINT) AS discordant,
        |  CAST(tie_x AS BIGINT) AS tie_pairs_x,
        |  CAST(tie_y AS BIGINT) AS tie_pairs_y,
        |  CASE WHEN (CAST(n AS HUGEINT) * (n - 1) // 2 - tie_x)
        |      * (CAST(n AS HUGEINT) * (n - 1) // 2 - tie_y) = 0 THEN NULL
        |    ELSE CAST(sign(conc - disc) AS BIGINT) END AS tau_sign,
        |  CASE WHEN (CAST(n AS HUGEINT) * (n - 1) // 2 - tie_x)
        |      * (CAST(n AS HUGEINT) * (n - 1) // 2 - tie_y) = 0 THEN NULL
        |    ELSE CAST(((1000000 * (conc - disc) * (conc - disc))
        |      // (CAST(n AS HUGEINT) * (n - 1) // 2 - tie_x))
        |      // (CAST(n AS HUGEINT) * (n - 1) // 2 - tie_y) AS BIGINT)
        |  END AS tau_sq_micros
        |FROM p, tx, ty, nn, g""".stripMargin,
    // JSD replay: per-token counts each side, full-outer value join,
    // the same ½(p·ln(p/m) + q·ln(q/m)) IEEE sequence rounded once per
    // token, absent-side terms guarded to 0
    "x168_js_divergence" ->
      """WITH ta AS (
        |  SELECT t AS v FROM documents,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS u(t)
        |  WHERE lang IS NOT NULL AND text IS NOT NULL AND lang = 'en'),
        |tb AS (
        |  SELECT t AS v FROM documents,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      x -> x <> '')) AS u(t)
        |  WHERE lang IS NOT NULL AND text IS NOT NULL AND lang <> 'en'),
        |ca AS (SELECT v, CAST(count(*) AS BIGINT) AS ca FROM ta GROUP BY 1),
        |cb AS (SELECT v, CAST(count(*) AS BIGINT) AS cb FROM tb GROUP BY 1),
        |j AS (SELECT coalesce(ca.v, cb.v) AS v,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS taa,
        |    CAST(sum(cb) AS BIGINT) AS tbb FROM j),
        |terms AS (
        |  SELECT CAST(round((
        |    CASE WHEN ca = 0 THEN 0.0 ELSE
        |      0.5 * (CAST(ca AS DOUBLE) / taa)
        |      * ln((CAST(ca AS DOUBLE) / taa) /
        |        ((CAST(ca AS DOUBLE) / taa + CAST(cb AS DOUBLE) / tbb)
        |         / 2.0)) END +
        |    CASE WHEN cb = 0 THEN 0.0 ELSE
        |      0.5 * (CAST(cb AS DOUBLE) / tbb)
        |      * ln((CAST(cb AS DOUBLE) / tbb) /
        |        ((CAST(ca AS DOUBLE) / taa + CAST(cb AS DOUBLE) / tbb)
        |         / 2.0)) END) * 1000000.0, 0) AS BIGINT) AS term
        |  FROM j, tt)
        |SELECT (SELECT taa FROM tt) AS n_a, (SELECT tbb FROM tt) AS n_b,
        |  CAST(count(*) AS BIGINT) AS n_values,
        |  CAST(sum(term) AS BIGINT) AS jsd_micronats
        |FROM terms""".stripMargin,
    // PII scan replay: identical id-arithmetic injection, RE2 counts
    // via len(regexp_extract_all), redaction via the same four
    // regexp_replace passes in the same order ('g' — DuckDB replaces
    // first-only by default where Spark replaces all)
    "x151_pii_scan" ->
      """WITH seeded AS (
        |  SELECT source AS grp, text ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' contact u' || CAST(doc_id AS VARCHAR)
        |           || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |           || '.1' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |         THEN ' card 4111111111111111' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |         THEN ' tel +1 555-123-4567' ELSE '' END AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |    AND text IS NOT NULL),
        |c AS (
        |  SELECT grp,
        |    CAST(len(regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |      AS BIGINT) AS c_email,
        |    CAST(len(regexp_extract_all(t,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS c_ip,
        |    CAST(len(regexp_extract_all(t, '\b\d{16}\b')) AS BIGINT)
        |      AS c_card,
        |    CAST(len(regexp_extract_all(t, '\+1 \d{3}-\d{3}-\d{4}'))
        |      AS BIGINT) AS c_phone,
        |    CAST(length(t) - length(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '', 'g'),
        |        '\b\d{16}\b', '', 'g'),
        |        '\+1 \d{3}-\d{3}-\d{4}', '', 'g')) AS BIGINT) AS cut
        |  FROM seeded),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN c_email + c_ip + c_card + c_phone > 0
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
        |    CAST(sum(c_email) AS BIGINT) AS n_emails,
        |    CAST(sum(c_ip) AS BIGINT) AS n_ipv4,
        |    CAST(sum(c_card) AS BIGINT) AS n_card16,
        |    CAST(sum(c_phone) AS BIGINT) AS n_phones,
        |    CAST(sum(cut) AS BIGINT) AS redacted_chars
        |  FROM c GROUP BY 1)
        |SELECT grp, n_docs, n_docs_with_pii,
        |  CAST((1000000 * n_docs_with_pii) // n_docs AS BIGINT)
        |    AS pii_docs_micros,
        |  n_emails, n_ipv4, n_card16, n_phones, redacted_chars
        |FROM g ORDER BY grp""".stripMargin,
    // weighted-kappa replay: the same decile graders, cell/margin
    // counts, quadratic penalties, HUGEINT for the n·Sum(w·O) product
    // (the x121 DECIMAL twin)
    "x158_cohen_kappa" ->
      """WITH b AS (
        |  SELECT least(9, n_chars // 60) AS i,
        |    least(9, len(list_filter(string_split(text, ' '),
        |      t -> t <> '')) // 10) AS j
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |cells AS (SELECT i, j, CAST(count(*) AS BIGINT) AS o
        |          FROM b GROUP BY 1, 2),
        |ra AS (SELECT i, CAST(count(*) AS BIGINT) AS na FROM b GROUP BY 1),
        |rb AS (SELECT j, CAST(count(*) AS BIGINT) AS nb FROM b GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT i) AS BIGINT) AS ca,
        |       CAST(count(DISTINCT j) AS BIGINT) AS cb FROM b),
        |obs AS (SELECT CAST(sum((i - j) * (i - j) * o) AS BIGINT) AS wo
        |        FROM cells),
        |ex AS (SELECT sum(CAST((i - j) * (i - j) AS HUGEINT) * na * nb)
        |         AS we
        |       FROM ra, rb)
        |SELECT n, greatest(ca, cb) AS n_categories,
        |  wo AS observed_penalty_sum,
        |  CAST(we AS VARCHAR) AS expected_penalty_num,
        |  CASE WHEN we = 0 THEN NULL
        |       ELSE CAST(1000000 - (1000000 * CAST(n AS HUGEINT) * wo)
        |         // we AS BIGINT)
        |  END AS kappa_micros
        |FROM nn, obs, ex""".stripMargin,
    // information-gain replay: per-type entropy terms rounded once to
    // micro-nats (the x28j/x128 convention — every term non-negative,
    // so round() ties agree), gain ratio clamped at 0 before the
    // truncated division (micro-rounding can push IG a few micro-nats
    // negative, and trunc-vs-floor diverges on negatives)
    "x153_info_gain" ->
      """WITH b AS (
        |  SELECT CAST(source AS VARCHAR) AS f, CAST(lang AS VARCHAR) AS y
        |  FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |hy AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_labels,
        |    CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0, 0)
        |      AS BIGINT)) AS BIGINT) AS h_label_micronats
        |  FROM (SELECT y, count(*) AS c FROM b GROUP BY 1), nn),
        |hx AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_features,
        |    CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0, 0)
        |      AS BIGINT)) AS BIGINT) AS h_feature_micronats
        |  FROM (SELECT f, count(*) AS c FROM b GROUP BY 1), nn),
        |hc AS (
        |  SELECT CAST(sum(CAST(round(-(CAST(cxy AS DOUBLE)
        |      / CAST(n AS DOUBLE)) * ln(CAST(cxy AS DOUBLE)
        |      / CAST(cx AS DOUBLE)) * 1000000.0, 0) AS BIGINT)) AS BIGINT)
        |      AS h_cond_micronats
        |  FROM (SELECT f, y, count(*) AS cxy FROM b GROUP BY 1, 2) cells
        |  JOIN (SELECT f, count(*) AS cx FROM b GROUP BY 1) mg USING (f),
        |    nn)
        |SELECT n, n_labels, n_features, h_label_micronats,
        |  h_cond_micronats,
        |  h_label_micronats - h_cond_micronats AS info_gain_micronats,
        |  h_feature_micronats,
        |  CASE WHEN h_feature_micronats <= 0 THEN NULL
        |       ELSE CAST((1000000 * greatest(0, h_label_micronats
        |         - h_cond_micronats)) // h_feature_micronats AS BIGINT)
        |  END AS gain_ratio_micros
        |FROM nn, hy, hx, hc""".stripMargin,
    // PSI replay: identical micro binning over the combined range,
    // add-one smoothed shares, each (p−q)·ln(p/q) term non-negative and
    // rounded once per bin
    "x155_psi_drift" ->
      """WITH am AS (
        |  SELECT CAST(round(CAST(n_chars AS DOUBLE) * 1000000.0, 0)
        |    AS BIGINT) AS m, 'a' AS side
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND lang = 'en'),
        |bm AS (
        |  SELECT CAST(round(CAST(n_chars AS DOUBLE) * 1000000.0, 0)
        |    AS BIGINT) AS m, 'b' AS side
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND lang <> 'en'),
        |uni AS (SELECT * FROM am UNION ALL SELECT * FROM bm),
        |bounds AS (SELECT min(m) AS lo, max(m) AS hi FROM uni),
        |counts AS (
        |  SELECT ((m - lo) * 10) // (hi - lo + 1) AS bin,
        |    CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM uni, bounds GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |        CAST(sum(n_b) AS BIGINT) AS tb FROM counts),
        |terms AS (
        |  SELECT bin, n_a, n_b,
        |    CAST((1000000 * (n_a + 1)) // (ta + 10) AS BIGINT) AS p_micros,
        |    CAST((1000000 * (n_b + 1)) // (tb + 10) AS BIGINT) AS q_micros,
        |    CAST(round(((CAST(n_a + 1 AS DOUBLE) / (ta + 10))
        |      - (CAST(n_b + 1 AS DOUBLE) / (tb + 10)))
        |      * ln((CAST(n_a + 1 AS DOUBLE) / (ta + 10))
        |      / (CAST(n_b + 1 AS DOUBLE) / (tb + 10)))
        |      * 1000000.0, 0) AS BIGINT) AS term_micronats
        |  FROM counts, tot)
        |SELECT bin, n_a, n_b, p_micros, q_micros, term_micronats,
        |  (SELECT CAST(sum(term_micronats) AS BIGINT) FROM terms)
        |    AS psi_micronats
        |FROM terms ORDER BY bin""".stripMargin,
    // robust-outlier replay: quantile_cont median/MAD (the x31d
    // portable percentile pair) rounded to 6 before use, one
    // micro-quantized z per row, zero-MAD strata emit nothing
    "x103_robust_outliers" ->
      """WITH base AS (
        |  SELECT doc_id, source AS stratum, CAST(n_chars AS DOUBLE) AS value
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |med AS (SELECT stratum, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM base GROUP BY 1),
        |mad AS (SELECT stratum,
        |    round(quantile_cont(abs(value - med), 0.5), 6) AS mad
        |  FROM base JOIN med USING (stratum) GROUP BY 1),
        |z AS (
        |  SELECT doc_id, stratum, value,
        |    CAST(round((0.6745 * (value - med) / mad) * 1000000.0, 0)
        |      AS BIGINT) AS z_micro
        |  FROM base JOIN med USING (stratum) JOIN mad USING (stratum)
        |  WHERE mad > 0)
        |SELECT doc_id, stratum, value, z_micro FROM z
        |WHERE abs(z_micro) > 2000000 ORDER BY doc_id""".stripMargin,
    // Good-Turing replay: (source, token) type counts, conditional
    // count-of-counts sums, one integer micro division
    "x100_good_turing" ->
      s"""WITH toks AS (
         |  SELECT source, $toksSql AS tk FROM documents
         |  WHERE source IS NOT NULL AND text IS NOT NULL),
         |tok AS (SELECT source, unnest(tk) AS tok FROM toks),
         |c AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  count(*) AS n_types,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_r1,
         |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_r2,
         |  CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
         |    // sum(c) AS BIGINT) AS unseen_micro
         |FROM c GROUP BY 1 ORDER BY source""".stripMargin,
    // saturation replay: per-n gram generation with multiplicity,
    // (source, n, gram) type counts, integer-div micro ratio
    "x95_ngram_saturation" ->
      s"""WITH toks AS (
         |  SELECT source, $toksSql AS tk FROM documents
         |  WHERE source IS NOT NULL AND text IS NOT NULL),
         |g AS (
         |  SELECT source, 1 AS n, unnest(tk) AS gram
         |  FROM toks WHERE len(tk) >= 1
         |  UNION ALL
         |  SELECT source, 2, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1]))
         |  FROM toks WHERE len(tk) >= 2
         |  UNION ALL
         |  SELECT source, 3, unnest(list_transform(range(1, len(tk) - 1),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
         |  FROM toks WHERE len(tk) >= 3),
         |c AS (SELECT source, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3)
         |SELECT source, n, CAST(sum(c) AS BIGINT) AS n_total,
         |  count(*) AS n_distinct,
         |  (count(*) * 1000000) // CAST(sum(c) AS BIGINT) AS ttr_micro
         |FROM c GROUP BY 1, 2 ORDER BY source, n""".stripMargin,
    // skip-gram replay: row-local nested-lambda pair generation
    // (lexicographic order inside the lambda), pair/unigram type
    // counts, the x79 three-ln micro quantization with the pair total
    // as joint mass
    "x91_skipgram_pmi" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |p AS (
         |  SELECT pair, count(*) AS n_cooc FROM (
         |    SELECT unnest(flatten(list_transform(range(1, len(tk)),
         |      i -> list_transform(range(i + 1, least(i + 4, len(tk)) + 1),
         |        j -> CASE WHEN tk[i] <= tk[j] THEN tk[i] || ' ' || tk[j]
         |                  ELSE tk[j] || ' ' || tk[i] END)))) AS pair
         |    FROM toks WHERE len(tk) >= 2)
         |  GROUP BY 1),
         |uni AS (
         |  SELECT tok AS w, count(*) AS cw
         |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY 1),
         |tot AS (
         |  SELECT (SELECT CAST(sum(n_cooc) AS BIGINT) FROM p) AS pp,
         |         (SELECT CAST(sum(cw) AS BIGINT) FROM uni) AS tt)
         |SELECT split_part(pair, ' ', 1) AS w1, split_part(pair, ' ', 2) AS w2,
         |  n_cooc,
         |  CAST(round((ln(CAST(n_cooc AS DOUBLE) / pp)
         |    - ln(CAST(c1 AS DOUBLE) / tt)
         |    - ln(CAST(c2 AS DOUBLE) / tt)) * 1000000) AS BIGINT) AS pmi_micro
         |FROM p
         |JOIN (SELECT w, cw AS c1 FROM uni) u1 ON split_part(pair, ' ', 1) = u1.w
         |JOIN (SELECT w, cw AS c2 FROM uni) u2 ON split_part(pair, ' ', 2) = u2.w
         |CROSS JOIN tot
         |WHERE n_cooc >= 5
         |ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""".stripMargin,
    // KS replay: (stratum, value) counts, the full stratum × value
    // grid, cumulative sums, integer cross-multiplied sup (HUGEINT —
    // the engine's DECIMAL(38,0)), one double division
    "x90_ks_drift" ->
      """WITH cs AS (
        |  SELECT source AS stratum, n_chars AS v, count(*) AS c
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1, 2),
        |cg AS (SELECT v, CAST(sum(c) AS BIGINT) AS cgv FROM cs GROUP BY 1),
        |ns AS (SELECT stratum, CAST(sum(c) AS BIGINT) AS n_s FROM cs GROUP BY 1),
        |nn AS (SELECT CAST(sum(cgv) AS BIGINT) AS nn FROM cg),
        |grid AS (
        |  SELECT ns.stratum, cg.v, ns.n_s, cg.cgv,
        |    coalesce(cs.c, 0) AS c
        |  FROM ns CROSS JOIN cg
        |  LEFT JOIN cs ON cs.stratum = ns.stratum AND cs.v = cg.v),
        |cum AS (
        |  SELECT stratum, n_s, cgv,
        |    CAST(sum(c) OVER w AS BIGINT) AS cum_s,
        |    CAST(sum(cgv) OVER w AS BIGINT) AS cum_g
        |  FROM grid
        |  WINDOW w AS (PARTITION BY stratum ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT stratum, any_value(n_s) AS n_s,
        |  round(CAST(max(abs(CAST(cum_s AS HUGEINT) * nn.nn
        |      - CAST(cum_g AS HUGEINT) * n_s)) AS DOUBLE)
        |    / CAST(CAST(any_value(n_s) AS HUGEINT) * any_value(nn.nn) AS DOUBLE), 6)
        |    AS d_stat
        |FROM cum CROSS JOIN nn
        |GROUP BY stratum
        |ORDER BY stratum""".stripMargin,
    // Zipf replay: per-source (count DESC, term) rank, milli-nat
    // quantized (ln rank, ln count), HUGEINT OLS sums (the engine's
    // DECIMAL(38,0)), one double division rounded to 6
    "x85_zipf_slope" ->
      s"""WITH cnt AS (
         |  SELECT source AS stratum, tok, count(*) AS c
         |  FROM (SELECT source, unnest($toksSql) AS tok FROM documents
         |        WHERE source IS NOT NULL)
         |  GROUP BY 1, 2),
         |xy AS (
         |  SELECT stratum,
         |    CAST(round(ln(CAST(row_number() OVER (PARTITION BY stratum
         |      ORDER BY c DESC, tok) AS DOUBLE)) * 1000) AS BIGINT) AS x,
         |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000) AS BIGINT) AS y
         |  FROM cnt),
         |s AS (
         |  SELECT stratum, count(*) AS n_terms,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM xy GROUP BY 1)
         |SELECT stratum, n_terms,
         |  CASE WHEN n_terms >= 2 THEN
         |    round(CAST(CAST(n_terms AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         |      / CAST(CAST(n_terms AS HUGEINT) * sxx - sx * sx AS DOUBLE), 6)
         |  END AS slope
         |FROM s ORDER BY stratum""".stripMargin,
    // PMI replay: bigram + unigram type counts, scalar totals, the
    // three-ln micro quantization with each division its own IEEE op,
    // (pmi DESC, w1, w2) total order
    "x79_pmi_collocations" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |bg AS (
         |  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
         |    count(*) AS c12
         |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
         |      i -> tk[i] || ' ' || tk[i+1])) AS g
         |    FROM toks WHERE len(tk) >= 2)
         |  GROUP BY 1, 2),
         |uni AS (
         |  SELECT tok AS w, count(*) AS cw
         |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY 1),
         |tot AS (
         |  SELECT (SELECT CAST(sum(c12) AS BIGINT) FROM bg) AS bb,
         |         (SELECT CAST(sum(cw) AS BIGINT) FROM uni) AS tt)
         |SELECT w1, w2, c12,
         |  CAST(round((ln(CAST(c12 AS DOUBLE) / bb)
         |    - ln(CAST(c1 AS DOUBLE) / tt)
         |    - ln(CAST(c2 AS DOUBLE) / tt)) * 1000000) AS BIGINT) AS pmi_micro
         |FROM bg
         |JOIN (SELECT w AS w1, cw AS c1 FROM uni) USING (w1)
         |JOIN (SELECT w AS w2, cw AS c2 FROM uni) USING (w2)
         |CROSS JOIN tot
         |WHERE c12 >= 5
         |ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""".stripMargin,
    // burstiness replay: integer (df, Σtf, Σtf²) per term, HUGEINT
    // products (the engine's DECIMAL(38,0)), one double division
    "x80_term_burstiness" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |nd AS (SELECT count(*) AS nd FROM documents),
         |agg AS (
         |  SELECT tok AS w, count(*) AS df, CAST(sum(tf) AS BIGINT) AS s1,
         |    CAST(sum(tf * tf) AS BIGINT) AS s2
         |  FROM tf GROUP BY 1)
         |SELECT w, df, s1 AS total_tf,
         |  round(CAST(CAST(nd AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
         |    / CAST(CAST(nd AS HUGEINT) * s1 AS DOUBLE), 6) AS vmr
         |FROM agg CROSS JOIN nd
         |WHERE df >= 5
         |ORDER BY vmr DESC, w LIMIT 50""".stripMargin,
    // full BM25 replay: postings, doc lengths, query-term df, the
    // per-(term, doc) weight quantized to micro with the IDENTICAL
    // operation order (each division its own IEEE op), exact integer
    // score sums, (score DESC, doc_id) ranking
    "x76_bm25_topk" ->
      s"""WITH cd AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id >= 50),
         |qd AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id < 50),
         |ctf AS (
         |  SELECT doc_id, tok AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM cd WHERE len(tk) > 0)
         |  GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM ctf GROUP BY 1),
         |dfr AS (SELECT term, count(*) AS df FROM ctf GROUP BY 1),
         |st AS (SELECT count(*) AS nn,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |qt AS (
         |  SELECT DISTINCT doc_id AS q_id, tok AS term
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM qd WHERE len(tk) > 0)),
         |sc AS (
         |  SELECT q.q_id, c.doc_id,
         |    CAST(round(
         |      ln(1.0 + (CAST(nn AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |        / (CAST(df AS DOUBLE) + 0.5))
         |      * ((CAST(tf AS DOUBLE) * 2.2)
         |        / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
         |          * (CAST(dl AS DOUBLE) / avgdl))))
         |      * 1000000.0) AS BIGINT) AS w
         |  FROM ctf c
         |  JOIN qt q USING (term)
         |  JOIN dl USING (doc_id)
         |  JOIN dfr USING (term)
         |  CROSS JOIN st),
         |agg AS (
         |  SELECT q_id, doc_id, CAST(sum(w) AS BIGINT) AS score_micro
         |  FROM sc GROUP BY 1, 2),
         |rk AS (
         |  SELECT q_id, doc_id, score_micro,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank
         |  FROM agg)
         |SELECT q_id, doc_id, score_micro, rank FROM rk WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // chi-square replay: full src × cat grid (absent cells contribute
    // (0−E)²/E), per-cell terms quantized to micro, exact integer sums
    "x77_source_chi2" ->
      """WITH b AS (
        |  SELECT source AS src, lang AS cat FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL),
        |cell AS (SELECT src, cat, count(*) AS o FROM b GROUP BY 1, 2),
        |ns AS (SELECT src, CAST(sum(o) AS BIGINT) AS n_s FROM cell GROUP BY 1),
        |nc AS (SELECT cat, CAST(sum(o) AS BIGINT) AS n_c FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |    count(DISTINCT cat) AS n_cats FROM cell),
        |grid AS (
        |  SELECT ns.src, ns.n_s, tot.n_cats,
        |    coalesce(cell.o, 0) AS o,
        |    CAST(ns.n_s * nc.n_c AS DOUBLE) / nn AS e
        |  FROM ns CROSS JOIN nc CROSS JOIN tot
        |  LEFT JOIN cell ON cell.src = ns.src AND cell.cat = nc.cat),
        |tm AS (
        |  SELECT src, n_s, n_cats,
        |    CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)
        |      / e * 1000000.0) AS BIGINT) AS t
        |  FROM grid)
        |SELECT src AS source, max(n_s) AS n_docs, max(n_cats) - 1 AS dof,
        |  round(CAST(sum(t) AS DOUBLE) / 1000000.0, 6) AS chi2
        |FROM tm GROUP BY src ORDER BY source""".stripMargin,
    // full ECDF-fusion replay: token-stat signals, quantile_cont edge
    // vectors (the q08b percentile pair on integer inputs), round-6
    // edges, row-local bucket counts
    "x69_quality_fusion" -> {
      val qs = (1 to 9).map(i => s"0.${i}").mkString(", ")
      s"""WITH st AS (
         |  SELECT doc_id AS id,
         |    len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS n_tokens,
         |    len(list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> ''))) AS n_distinct,
         |    length(text) AS n_chars
         |  FROM documents WHERE text IS NOT NULL),
         |edges AS (
         |  SELECT quantile_cont(n_tokens, [$qs]) AS e1,
         |    quantile_cont(n_distinct, [$qs]) AS e2,
         |    quantile_cont(n_chars, [$qs]) AS e3
         |  FROM st),
         |b AS (
         |  SELECT id,
         |    len(list_filter(list_transform(e1, e -> round(e, 6)), e -> e <= n_tokens)) AS b_n_tokens,
         |    len(list_filter(list_transform(e2, e -> round(e, 6)), e -> e <= n_distinct)) AS b_n_distinct,
         |    len(list_filter(list_transform(e3, e -> round(e, 6)), e -> e <= n_chars)) AS b_n_chars
         |  FROM st CROSS JOIN edges)
         |SELECT id, b_n_tokens, b_n_distinct, b_n_chars,
         |  round(CAST(b_n_tokens + b_n_distinct + b_n_chars AS DOUBLE) / 3, 6) AS fused
         |FROM b ORDER BY id""".stripMargin
    },
    // interpolated-LM replay: per-TYPE surprisal quantized to integer
    // micro-nats with the division order written out (λ·(c12/c1) +
    // (1−λ)·(c2/N) — each division its own IEEE op, the x28j recipe)
    "x70_interp_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |dbg AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2, count(*) AS dc FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> {'w1': tk[i], 'w2': tk[i+1]})) AS u
        |    FROM toks WHERE len(tk) >= 2)
        |  GROUP BY 1, 2, 3),
        |uni AS (
        |  SELECT w, count(*) AS cw FROM (
        |    SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
        |nt AS (SELECT CAST(sum(cw) AS BIGINT) AS nn FROM uni),
        |bgc AS (SELECT w1, w2, CAST(sum(dc) AS BIGINT) AS c12 FROM dbg GROUP BY 1, 2),
        |ltab AS (
        |  SELECT b.w1, b.w2,
        |    CAST(round(-ln(0.75 * (CAST(c12 AS DOUBLE) / u1.cw)
        |      + 0.25 * (CAST(u2.cw AS DOUBLE) / nn)) * 1000000) AS BIGINT) AS L
        |  FROM bgc b
        |  JOIN uni u1 ON u1.w = b.w1
        |  JOIN uni u2 ON u2.w = b.w2
        |  CROSS JOIN nt)
        |SELECT d.doc_id, CAST(sum(d.dc) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(d.dc * l.L) AS DOUBLE) / (sum(d.dc) * 1000000.0), 6) AS avg_nll
        |FROM dbg d JOIN ltab l ON l.w1 = d.w1 AND l.w2 = d.w2
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // encoding scan: the injection replayed via chr(), counts via
    // len(regexp_extract_all) (the x28g spelling), \x{FFFD} as an
    // escape so no raw non-ASCII byte rides in the pattern
    "x66_encoding_scan" ->
      """WITH dirty AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(1) || chr(2) ELSE '' END ||
        |    CASE WHEN doc_id % 6 = 0 THEN chr(65533) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(t) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS BIGINT) AS n_control,
        |  CAST(len(regexp_extract_all(t, '\x{FFFD}')) AS BIGINT) AS n_replacement,
        |  CASE WHEN length(t) > 0
        |       THEN round(CAST(len(regexp_extract_all(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]')) AS DOUBLE)
        |            / length(t), 6) END AS control_frac,
        |  CASE WHEN length(t) > 0
        |       THEN round(CAST(len(regexp_extract_all(t, '\x{FFFD}')) AS DOUBLE)
        |            / length(t), 6) END AS replacement_frac
        |FROM dirty ORDER BY doc_id""".stripMargin,
    // min-k%: per-type micro-nat surprisal (x28j spelling), instances
    // ranked per doc by L DESC (ties share L, so any tiebreak sums the
    // same), integer top-k sum, ONE division sequence s/k/1e6
    "x64_min_k_prob" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
        |lt AS (
        |  SELECT tok,
        |    CAST(round(ln(CAST(total AS DOUBLE) / c) * 1000000) AS BIGINT) AS L
        |  FROM cnt CROSS JOIN tot),
        |inst AS (
        |  SELECT t.doc_id, l.L,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY l.L DESC) AS rn,
        |    count(*) OVER (PARTITION BY t.doc_id) AS n
        |  FROM tok t JOIN lt l USING (tok)),
        |agg AS (
        |  SELECT doc_id, n, (n * 20 + 99) // 100 AS k_cnt,
        |    CAST(sum(CASE WHEN rn <= (n * 20 + 99) // 100 THEN L ELSE 0 END)
        |      AS BIGINT) AS s
        |  FROM inst GROUP BY doc_id, n)
        |SELECT d.doc_id,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(k_cnt, 0) AS BIGINT) AS k_cnt,
        |  CASE WHEN n IS NOT NULL
        |       THEN round(CAST(s AS DOUBLE) / k_cnt / 1000000, 6) END AS mink_score
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // coverage curve: one (type, count) aggregation, top-100 by
    // (n DESC, tok), cumulative window over exactly those 100 rows
    "x61_vocab_coverage" ->
      """WITH tf AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |cnt AS (SELECT tok, count(*) AS n FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cnt),
        |top AS (SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT 100)
        |SELECT
        |  CAST(row_number() OVER win AS INTEGER) AS rank, tok,
        |  CAST(n AS BIGINT) AS n,
        |  round(CAST(sum(n) OVER (ORDER BY n DESC, tok
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / total, 6) AS cum_share
        |FROM top CROSS JOIN tot
        |WINDOW win AS (ORDER BY n DESC, tok)
        |ORDER BY rank""".stripMargin,
    "x41_line_filter" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |dl AS (
        |  SELECT doc_id,
        |    ['home | about | contact'] ||
        |    list_transform(range(1, CAST(ceil(len(toks) / 10.0) AS BIGINT) + 1),
        |      i -> array_to_string(list_slice(toks, (i - 1) * 10 + 1,
        |        least((i - 1) * 10 + 10, len(toks))), ' ')) ||
        |    (CASE WHEN doc_id % 5 = 0
        |      THEN ['click here to read more today friends'] ELSE [] END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN ['subscribe now'] ELSE [] END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN ['ok'] ELSE [] END) AS lines
        |  FROM tk),
        |f AS (
        |  SELECT doc_id, len(lines) AS n_lines,
        |    list_filter(lines, l ->
        |      len(list_filter(string_split(l, ' '), t -> t <> '')) >= 5
        |      AND NOT contains(l, 'click here')
        |      AND NOT contains(l, '|')) AS kept
        |  FROM dl)
        |SELECT doc_id, CAST(n_lines AS INTEGER) AS n_lines,
        |  CAST(len(kept) AS INTEGER) AS n_kept,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |  CAST(length(coalesce(array_to_string(kept, chr(10)), ''))
        |    AS INTEGER) AS n_chars_clean
        |FROM f ORDER BY doc_id""".stripMargin,
    "x28q_bpe_train_batched" ->
      s"""WITH $bpeBatchedCtes
         |SELECT CAST(round AS INTEGER) AS round, CAST(rank AS INTEGER) AS rank,
         |  lhs, rhs, CAST(cnt AS BIGINT) AS pair_count FROM (
         |  ${(1 to 4).flatMap(r => (1 to 4).map(k =>
              s"SELECT $r AS round, $k AS rank, lhs, rhs, cnt FROM bs${r}_$k"))
             .mkString("\n  UNION ALL ")})
         |ORDER BY round, rank""".stripMargin,
    "x28r_bpe_segment_batched" ->
      s"""WITH $bpeBatchedCtes,
         |btp AS (
         |  SELECT doc_id, u.j AS pos, u.word AS word FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len($toksSql) + 1),
         |        j -> {'j': j, 'word': $toksSql[j]})) AS u
         |    FROM documents)),
         |bagg AS (
         |  SELECT btp.doc_id, array_to_string(list(w.syms ORDER BY btp.pos), ' ') AS pieces
         |  FROM btp JOIN bw4 w ON w.word = btp.word
         |  GROUP BY btp.doc_id)
         |SELECT doc_id, CAST(len(string_split(pieces, ' ')) AS INTEGER) AS n_pieces,
         |  pieces
         |FROM bagg ORDER BY doc_id""".stripMargin,
    "x28o_bpe_train" ->
      s"""WITH $bpeBuildCtes
         |SELECT iter, lhs, rhs, CAST(cnt AS BIGINT) AS pair_count FROM (
         |  ${(1 to 8).map(i => s"SELECT $i AS iter, lhs, rhs, cnt FROM m$i")
             .mkString("\n  UNION ALL ")})
         |ORDER BY iter""".stripMargin,
    // tokenizer QA under the HALF-corpus vocab: the 8-round build chain
    // runs on doc_id < 250 only, then every document left-joins it —
    // vocab misses fall back to character segmentation (piece count =
    // char count, both engines count characters not bytes)
    "x52_tokenizer_stats" ->
      s"""WITH ${bpeBuildCtesOn(" WHERE doc_id < 250")},
         |tp2 AS (
         |  SELECT doc_id, u.word AS word FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len($toksSql) + 1),
         |        j -> {'j': j, 'word': $toksSql[j]})) AS u
         |    FROM documents)),
         |st AS (
         |  SELECT tp2.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_toks,
         |    CAST(sum(CASE WHEN w.word IS NULL THEN length(tp2.word)
         |      ELSE len(string_split(w.syms, ' ')) END) AS BIGINT) AS n_pieces,
         |    CAST(sum(CASE WHEN w.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |  FROM tp2 LEFT JOIN w8 w ON w.word = tp2.word
         |  GROUP BY tp2.doc_id)
         |SELECT doc_id, n_toks, n_pieces, n_oov,
         |  round(CAST(n_pieces AS DOUBLE) / n_toks, 6) AS fertility,
         |  round(CAST(n_oov AS DOUBLE) / n_toks, 6) AS oov_frac
         |FROM st ORDER BY doc_id""".stripMargin,
    "x28p_bpe_segment" ->
      s"""WITH $bpeBuildCtes,
         |tp AS (
         |  SELECT doc_id, u.j AS pos, u.word AS word FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len($toksSql) + 1),
         |        j -> {'j': j, 'word': $toksSql[j]})) AS u
         |    FROM documents)),
         |agg AS (
         |  SELECT tp.doc_id, array_to_string(list(w.syms ORDER BY tp.pos), ' ') AS pieces
         |  FROM tp JOIN w8 w ON w.word = tp.word
         |  GROUP BY tp.doc_id)
         |SELECT doc_id, CAST(len(string_split(pieces, ' ')) AS INTEGER) AS n_pieces,
         |  pieces
         |FROM agg ORDER BY doc_id""".stripMargin,
    "x28k_normalize" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    '  ' || regexp_replace(upper(text), ' ', '   ', 'g') || '  ' AS dirty
        |  FROM documents)
        |SELECT doc_id,
        | lower(trim(regexp_replace(dirty, '[ \t\n\r\f]+', ' ', 'g'))) AS norm_text,
        | CAST(length(lower(trim(regexp_replace(dirty, '[ \t\n\r\f]+', ' ', 'g')))) AS INTEGER)
        |   AS n_chars_norm
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "x28l_redact" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text || ' contact u' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or https://ex.org/p/' || CAST(doc_id AS VARCHAR) ||
        |    ' ref ' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS dirty
        |  FROM documents),
        |r1 AS (SELECT doc_id, dirty,
        |  regexp_replace(dirty, 'https?://[^ \t\n\r\f]+', '<URL>', 'g') AS after_url
        |  FROM dirty),
        |r2 AS (SELECT doc_id, dirty, after_url,
        |  regexp_replace(after_url,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+',
        |    '<EMAIL>', 'g') AS after_email
        |  FROM r1)
        |SELECT doc_id,
        | regexp_replace(after_email, '[0-9][0-9][0-9][0-9]+', '<NUM>', 'g')
        |   AS redacted_text,
        | CAST(len(regexp_extract_all(dirty, 'https?://[^ \t\n\r\f]+')) +
        |   len(regexp_extract_all(after_url,
        |     '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+')) +
        |   len(regexp_extract_all(after_email, '[0-9][0-9][0-9][0-9]+')) AS BIGINT)
        |   AS n_redactions
        |FROM r2 ORDER BY doc_id""".stripMargin,
    "x28_token_stats" ->
      s"""SELECT doc_id,
         | CAST(len($toksSql) AS INTEGER) AS n_tokens,
         | CAST(len(list_distinct($toksSql)) AS INTEGER) AS n_distinct,
         | CAST(length(text) AS INTEGER) AS n_chars,
         | round(CAST(list_sum(list_transform($toksSql, t -> length(t))) AS DOUBLE)
         |   / NULLIF(len($toksSql), 0), 4) AS avg_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x28b_quality_score" ->
      s"""WITH b AS (SELECT doc_id, text, $toksSql AS tk FROM documents)
         |SELECT doc_id,
         | CAST(len(tk) AS INTEGER) AS n_toks,
         | CAST(len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) AS INTEGER) AS n_stop,
         | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
         | round(CAST(len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE) / NULLIF(len(tk), 0), 6) AS stop_ratio,
         | round(least(1.0, CAST(len(tk) AS DOUBLE) / 50.0) *
         |   (1.0 - CAST(len(list_filter(tk, t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE) / NULLIF(len(tk), 0)), 6) AS quality_score
         |FROM b ORDER BY doc_id""".stripMargin,
    // span-corruption replay: the content-addressed phase reuses the
    // x31 sha256 hex-parse (SamplingOps.hash16Sql), then the same
    // cadence arithmetic — starts at (i+h)%7=0, 2-token spans — over
    // DuckDB list lambdas; sentinel k is the 0-based span ordinal (T5
    // convention: <extra_id_0> is always the first span), replayed via
    // list_position for the input and the two-arg lambda's 1-based
    // index for the target; list_slice clamps at the doc end exactly
    // like Spark's slice
    "x46_span_corrupt" ->
      s"""WITH b AS (SELECT doc_id, $toksSql AS tk,
         |  (${SamplingOps.hash16Sql("(CAST(doc_id AS VARCHAR) || '#spanc')")} % 7) AS h
         | FROM documents),
         |s AS (SELECT doc_id, tk, h, len(tk) AS n,
         |  list_filter(range(1, len(tk) + 1), i -> (i + h) % 7 = 0) AS starts
         | FROM b)
         |SELECT doc_id,
         |  CAST(n AS INTEGER) AS n_toks,
         |  CAST(len(starts) AS INTEGER) AS n_spans,
         |  coalesce(array_to_string(list_transform(
         |    list_filter(range(1, n + 1),
         |      i -> NOT (i > 1 AND (i - 1 + h) % 7 = 0)),
         |    i -> CASE WHEN (i + h) % 7 = 0
         |      THEN '<extra_id_' || CAST(list_position(starts, i) - 1 AS VARCHAR) || '>'
         |      ELSE tk[i] END), ' '), '') AS input_text,
         |  coalesce(array_to_string(list_transform(starts,
         |    (p, j) -> '<extra_id_' || CAST(j - 1 AS VARCHAR) || '>' || ' ' ||
         |      array_to_string(list_slice(tk, p, p + 1), ' ')), ' '), '') AS target_text
         |FROM s ORDER BY doc_id""".stripMargin,
    // UL2 mixture replay: content-addressed denoiser tag + two phases +
    // S-cut from independent salted hex-parse hashes; the R/X branches
    // are the x46 cadence arithmetic at (period 7, hr) / (period 4, hx)
    // over the STAGED sr/sx span lists; the S branch is two list_slices
    // around the cut. concat_ws skips NULL slots in both engines, so the
    // empty-prefix/suffix/corruption degenerates spell identically.
    "x51_ul2_mixture" ->
      s"""WITH b AS (SELECT doc_id, $toksSql AS tk,
         |  (${SamplingOps.hash16Sql("(CAST(doc_id AS VARCHAR) || '#ul2')")} % 3) AS tag,
         |  ${SamplingOps.hash16Sql("(CAST(doc_id AS VARCHAR) || '#ul2p')")} AS hh,
         |  ${SamplingOps.hash16Sql("(CAST(doc_id AS VARCHAR) || '#ul2c')")} AS hc
         | FROM documents),
         |s AS (SELECT doc_id, tk, tag, len(tk) AS n,
         |  (hh % 7) AS hr, (hh % 4) AS hx, (hc % (len(tk) + 1)) AS cut,
         |  list_filter(range(1, len(tk) + 1), i -> (i + (hh % 7)) % 7 = 0) AS sr,
         |  list_filter(range(1, len(tk) + 1), i -> (i + (hh % 4)) % 4 = 0) AS sx
         | FROM b)
         |SELECT doc_id,
         |  CASE WHEN tag = 0 THEN 'R' WHEN tag = 1 THEN 'S' ELSE 'X' END AS denoiser,
         |  CAST(n AS INTEGER) AS n_toks,
         |  CASE WHEN tag = 0 THEN concat_ws(' ', '[R]',
         |      nullif(array_to_string(list_transform(
         |        list_filter(range(1, n + 1),
         |          i -> NOT (i > 1 AND (i - 1 + hr) % 7 = 0)),
         |        i -> CASE WHEN (i + hr) % 7 = 0
         |          THEN '<extra_id_' || CAST(list_position(sr, i) - 1 AS VARCHAR) || '>'
         |          ELSE tk[i] END), ' '), ''))
         |    WHEN tag = 1 THEN concat_ws(' ', '[S]',
         |      CASE WHEN cut > 0 THEN array_to_string(tk[1 : cut], ' ') END,
         |      '<extra_id_0>')
         |    ELSE concat_ws(' ', '[X]',
         |      nullif(array_to_string(list_transform(
         |        list_filter(range(1, n + 1),
         |          i -> NOT (i > 1 AND (i - 1 + hx) % 4 = 0)),
         |        i -> CASE WHEN (i + hx) % 4 = 0
         |          THEN '<extra_id_' || CAST(list_position(sx, i) - 1 AS VARCHAR) || '>'
         |          ELSE tk[i] END), ' '), ''))
         |  END AS input_text,
         |  CASE WHEN tag = 0 THEN
         |      coalesce(array_to_string(list_transform(sr,
         |        (p, j) -> '<extra_id_' || CAST(j - 1 AS VARCHAR) || '>' || ' ' ||
         |          array_to_string(list_slice(tk, p, p + 1), ' ')), ' '), '')
         |    WHEN tag = 1 THEN concat_ws(' ', '<extra_id_0>',
         |      CASE WHEN cut < n THEN array_to_string(tk[cut + 1 : n], ' ') END)
         |    ELSE
         |      coalesce(array_to_string(list_transform(sx,
         |        (p, j) -> '<extra_id_' || CAST(j - 1 AS VARCHAR) || '>' || ' ' ||
         |          array_to_string(list_slice(tk, p, p + 1), ' ')), ' '), '')
         |  END AS target_text
         |FROM s ORDER BY doc_id""".stripMargin,
    // line-dedup replay: the same dirtying as the Spark binding (x41's
    // 10-token chunking + duplicated first line + doubled banner), then
    // first-occurrence keep via a two-arg list_filter lambda —
    // list_position and the 1-based lambda index agree with Spark's
    // array_position === i+1
    "x48_line_dedup" ->
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
         |  FROM documents),
         |dl AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[]) ELSE
         |      list_transform(range(1, CAST(ceil(len(tk) / 10.0) AS BIGINT) + 1),
         |        i -> array_to_string(tk[(i - 1) * 10 + 1 :
         |          least((i - 1) * 10 + 10, len(tk))], ' ')) END AS body
         |  FROM tk),
         |d2 AS (
         |  SELECT doc_id,
         |    body ||
         |    (CASE WHEN len(body) >= 1 THEN [body[1]]
         |          ELSE CAST([] AS VARCHAR[]) END) ||
         |    ['subscribe now', 'subscribe now'] ||
         |    (CASE WHEN doc_id % 2 = 0 AND len(body) >= 1 THEN [body[1]]
         |          ELSE CAST([] AS VARCHAR[]) END) AS lines
         |  FROM dl),
         |k AS (
         |  SELECT doc_id, lines,
         |    list_filter(lines, (l, i) -> list_position(lines, l) = i) AS kept
         |  FROM d2)
         |SELECT doc_id,
         |  CAST(len(lines) AS INTEGER) AS n_lines,
         |  CAST(len(kept) AS INTEGER) AS n_kept,
         |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
         |  CAST(length(coalesce(array_to_string(kept, chr(10)), ''))
         |    AS INTEGER) AS n_chars_clean
         |FROM k ORDER BY doc_id""".stripMargin,
    // FIM replay: two independent hex-parse hashes pick the cuts
    // (min/max), then three inclusive-end list_slices — DuckDB's
    // list_slice(x, a, b) is elements a..b, matching Spark's
    // slice(x, a, b-a+1). Empty segments are NULL on both sides
    // (NULLIF belt-and-braces here, when(size>0) in fimTransform), so
    // concat_ws single-spaces the sentinels identically
    "x47_fim" ->
      s"""WITH b AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |c AS (SELECT doc_id, tk, len(tk) AS n,
         |  (${SamplingOps.hash16Sql("(CAST(doc_id AS VARCHAR) || '#fim1')")} % (len(tk) + 1)) AS h1,
         |  (${SamplingOps.hash16Sql("(CAST(doc_id AS VARCHAR) || '#fim2')")} % (len(tk) + 1)) AS h2
         | FROM b)
         |SELECT doc_id,
         |  CAST(n AS INTEGER) AS n_toks,
         |  CAST(least(h1, h2) AS INTEGER) AS cut1,
         |  CAST(greatest(h1, h2) AS INTEGER) AS cut2,
         |  concat_ws(' ',
         |    '<fim_prefix>',
         |    NULLIF(array_to_string(list_slice(tk, 1, least(h1, h2)), ' '), ''),
         |    '<fim_suffix>',
         |    NULLIF(array_to_string(list_slice(tk, greatest(h1, h2) + 1, n), ' '), ''),
         |    '<fim_middle>',
         |    NULLIF(array_to_string(list_slice(tk, least(h1, h2) + 1, greatest(h1, h2)), ' '), '')
         |  ) AS fim_text
         |FROM c ORDER BY doc_id""".stripMargin,
    // the x28j micro-nat recipe over the doc's OWN distribution: counts
    // per type (the groupBy replays the sorted-run lengths exactly),
    // surprisal quantized per type, exact integer sum, one division
    "x28t_token_entropy" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY doc_id, tok),
         |n AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY doc_id)
         |SELECT c.doc_id,
         |  n AS n_toks,
         |  round(CAST(CAST(sum(c * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * 1000000), 6) AS entropy
         |FROM c JOIN n ON n.doc_id = c.doc_id
         |GROUP BY c.doc_id, n
         |ORDER BY c.doc_id""".stripMargin,
    // Gopher rules replay: same per-doc signals, same coalesce(TRUE)
    // guard for zero-token docs, flags and keep as BOOLEANs both sides
    "x28s_gopher_rules" ->
      s"""WITH b AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |sig AS (SELECT doc_id,
         |  CAST(len(tk) AS INTEGER) AS n_toks,
         |  CASE WHEN len(tk) > 0 THEN
         |    round(CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
         |      / len(tk), 6) END AS mean_wlen,
         |  CASE WHEN len(tk) > 0 THEN
         |    round(CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
         |      AS DOUBLE) / len(tk), 6) END AS alpha_ratio,
         |  CAST(len(list_intersect(list_distinct(tk),
         |    ['the','a','and','of','to','in'])) AS INTEGER) AS n_stop_hits
         | FROM b),
         |fl AS (SELECT *,
         |  (n_toks < 20 OR n_toks > 80) AS r_len,
         |  coalesce(mean_wlen < 4.0 OR mean_wlen > 5.0, TRUE) AS r_wordlen,
         |  coalesce(alpha_ratio < 0.8, TRUE) AS r_alpha,
         |  (n_stop_hits < 2) AS r_stop
         | FROM sig)
         |SELECT doc_id, n_toks, mean_wlen, alpha_ratio, n_stop_hits,
         |  r_len, r_wordlen, r_alpha, r_stop,
         |  NOT (r_len OR r_wordlen OR r_alpha OR r_stop) AS keep
         |FROM fl ORDER BY doc_id""".stripMargin,
    // Chao1 replay: type totals from the same tokenization, exact
    // integer bias-corrected estimate, // ≡ div on nonnegatives
    "x136_chao1" ->
      s"""WITH b AS (
         |  SELECT unnest($toksSql) AS tok FROM documents),
         |tc AS (SELECT tok, count(*) AS c FROM b GROUP BY 1),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         |  FROM tc),
         |e AS (
         |  SELECT n_types, n_tokens, f1, f2,
         |    CAST(n_types + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
         |      AS chao1_est
         |  FROM a)
         |SELECT n_types, n_tokens, f1, f2, chao1_est,
         |  CASE WHEN chao1_est = 0 THEN NULL
         |       ELSE CAST((1000000 * (chao1_est - n_types)) // chao1_est
         |         AS BIGINT)
         |  END AS unseen_micros
         |FROM e""".stripMargin,
    // Spearman replay: same midrank·2 identity over DISTINCT values,
    // HUGEINT Pearson sums, the identical IEEE rho² expression
    "x122_spearman" ->
      s"""WITH b AS (
         |  SELECT n_chars AS x, len($toksSql) AS y FROM documents
         |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |gx AS (SELECT x, count(*) AS c FROM b GROUP BY 1),
         |mx AS (SELECT x,
         |  2 * coalesce(sum(c) OVER (ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
         |  AS xm FROM gx),
         |gy AS (SELECT y, count(*) AS c FROM b GROUP BY 1),
         |my AS (SELECT y,
         |  2 * coalesce(sum(c) OVER (ORDER BY y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
         |  AS ym FROM gy),
         |j AS (
         |  SELECT CAST(xm AS HUGEINT) AS rx, CAST(ym AS HUGEINT) AS ry
         |  FROM b JOIN mx USING (x) JOIN my USING (y)),
         |a AS (
         |  SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
         |    sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
         |  FROM j),
         |f AS (
         |  SELECT n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den1,
         |    n * syy - sy * sy AS den2
         |  FROM a)
         |SELECT CAST(n AS BIGINT) AS n,
         |  CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
         |    AS rho_sign,
         |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
         |       ELSE CAST(floor(1000000.0 * CAST(num AS DOUBLE)
         |         * CAST(num AS DOUBLE) / (CAST(den1 AS DOUBLE)
         |         * CAST(den2 AS DOUBLE))) AS BIGINT)
         |  END AS rho_sq_micros
         |FROM f""".stripMargin,
    // bucketed Spearman replay: micro-quantize, equal-width integer
    // buckets over each axis's observed range, then the identical
    // midrank machinery over the bucket pair
    "x122b_spearman_bucketed" ->
      s"""WITH raw AS (
         |  SELECT
         |    CAST(round(CAST(n_chars AS DOUBLE) * 1000000.0, 0) AS BIGINT)
         |      AS xm,
         |    CAST(round(CAST(len($toksSql) AS DOUBLE) * 1000000.0, 0)
         |      AS BIGINT) AS ym
         |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         |bd AS (SELECT min(xm) AS xlo, max(xm) AS xhi,
         |              min(ym) AS ylo, max(ym) AS yhi FROM raw),
         |b AS (
         |  SELECT ((xm - xlo) * 32) // (xhi - xlo + 1) AS x,
         |         ((ym - ylo) * 32) // (yhi - ylo + 1) AS y
         |  FROM raw, bd),
         |gx AS (SELECT x, count(*) AS c FROM b GROUP BY 1),
         |mx AS (SELECT x,
         |  2 * coalesce(sum(c) OVER (ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
         |  AS xm FROM gx),
         |gy AS (SELECT y, count(*) AS c FROM b GROUP BY 1),
         |my AS (SELECT y,
         |  2 * coalesce(sum(c) OVER (ORDER BY y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
         |  AS ym FROM gy),
         |j AS (
         |  SELECT CAST(xm AS HUGEINT) AS rx, CAST(ym AS HUGEINT) AS ry
         |  FROM b JOIN mx USING (x) JOIN my USING (y)),
         |a AS (
         |  SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
         |    sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
         |  FROM j),
         |f AS (
         |  SELECT n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den1,
         |    n * syy - sy * sy AS den2
         |  FROM a)
         |SELECT CAST(n AS BIGINT) AS n,
         |  CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
         |    AS rho_sign,
         |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
         |       ELSE CAST(floor(1000000.0 * CAST(num AS DOUBLE)
         |         * CAST(num AS DOUBLE) / (CAST(den1 AS DOUBLE)
         |         * CAST(den2 AS DOUBLE))) AS BIGINT)
         |  END AS rho_sq_micros
         |FROM f""".stripMargin,
    // the x28c scoring fragment aggregated to (label, pred) cells with
    // exact per-true-class row fractions
    "x119_lang_confusion" ->
      s"""WITH b AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  len(list_filter(tk, t -> t IN ('the','and','of'))) AS s_en,
         |  len(list_filter(tk, t -> t IN ('el','la','de'))) AS s_es,
         |  len(list_filter(tk, t -> t IN ('le','et','un'))) AS s_fr
         | FROM b),
         |pr AS (
         |  SELECT lang AS label,
         |   CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |        WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |        WHEN s_fr > 0 THEN 'fr'
         |        ELSE 'unknown' END AS pred
         |  FROM sc WHERE lang IS NOT NULL),
         |cnt AS (SELECT label, pred, count(*) AS n FROM pr GROUP BY 1, 2),
         |rt AS (SELECT label, count(*) AS label_total FROM pr GROUP BY 1)
         |SELECT c.label, c.pred, CAST(n AS BIGINT) AS n,
         |  CAST(label_total AS BIGINT) AS label_total,
         |  CAST((1000000 * n) // label_total AS BIGINT) AS row_frac_micros
         |FROM cnt c JOIN rt USING (label)
         |ORDER BY c.label, c.pred""".stripMargin,
    "x28c_lang_id" ->
      s"""WITH b AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  CAST(len(list_filter(tk, t -> t IN ('the','and','of'))) AS INTEGER) AS s_en,
         |  CAST(len(list_filter(tk, t -> t IN ('el','la','de'))) AS INTEGER) AS s_es,
         |  CAST(len(list_filter(tk, t -> t IN ('le','et','un'))) AS INTEGER) AS s_fr
         | FROM b)
         |SELECT doc_id, lang AS labelled_lang,
         | CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |      WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |      WHEN s_fr > 0 THEN 'fr'
         |      ELSE 'unknown' END AS pred_lang,
         | s_en, s_es, s_fr
         |FROM sc ORDER BY doc_id""".stripMargin,
    "x28d_tfidf_top_term" ->
      s"""WITH tf AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tfc AS (SELECT doc_id, tok, count(*) AS tf FROM tf GROUP BY 1, 2),
         |dfc AS (SELECT tok, count(*) AS df FROM tfc GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tok, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score,
         |   row_number() OVER (PARTITION BY doc_id
         |     ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) DESC, tok) AS rn
         |  FROM tfc JOIN dfc USING (tok) CROSS JOIN n)
         |SELECT doc_id, tok AS top_term, score FROM scored WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    "x28f_bpe_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
        | CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS INTEGER) AS n_distinct_bpe,
        | regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')[1] AS first_tok
        |FROM documents ORDER BY doc_id""".stripMargin,
    // coalesce: array_to_string([]) is NULL in DuckDB but '' in Spark's
    // array_join, and sha256(NULL) would be NULL — a zero-token doc's
    // fingerprint is the (defined) hash of the empty string, not NULL
    // (found by the tiny-doc vintage stress, round 8)
    "x28e_fingerprint" ->
      s"""SELECT doc_id,
         | substring(sha256(coalesce(array_to_string($toksSql, ' '), '')), 1, 16)
         |   AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x28g_pii_scan" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+')) AS INTEGER) AS n_emails,
        | CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\r\f]+')) AS INTEGER) AS n_urls,
        | CAST(len(regexp_extract_all(text, '[0-9][0-9][0-9][0-9]+')) AS INTEGER) AS n_digit_runs,
        | CAST(length(regexp_replace(regexp_replace(text,
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+', '<EMAIL>', 'g'),
        |   '[0-9][0-9][0-9][0-9]+', '<NUM>', 'g')) AS INTEGER) AS redacted_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x28h_top_bigrams" ->
      s"""WITH toks AS (SELECT $toksSql AS tk FROM documents),
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1])) AS bigram
         |  FROM toks WHERE len(tk) >= 2)
         |SELECT bigram, count(*) AS n FROM bg
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 10""".stripMargin,
    // Micro-nat-quantized surprisal: the per-doc sum is integer-exact on
    // both engines; ln appears once per distinct token, rounded (x28d rule)
    "x28j_unigram_lm" ->
      s"""WITH tf AS (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |c AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
         |q AS (
         |  SELECT tok,
         |    CAST(round(ln(CAST(total AS DOUBLE) / c) * 1000000) AS BIGINT) AS nllq
         |  FROM c CROSS JOIN tot)
         |SELECT doc_id,
         | CAST(sum(tf) AS BIGINT) AS n_tokens,
         | round(CAST(CAST(sum(tf * nllq) AS BIGINT) AS DOUBLE) /
         |   (CAST(CAST(sum(tf) AS BIGINT) AS DOUBLE) * 1000000), 6) AS avg_nll
         |FROM tf JOIN q USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x28j's micro-nat replay extended to bigram types: counts are
    // integers in both engines, ln is quantized once per distinct bigram
    // (round·1e6 → BIGINT), context counts derive from the bigram
    // relation itself (split_part == substring_index for the first
    // space-joined token), V is the exact distinct-token count
    "x28n_bigram_lm" ->
      s"""WITH $bigramNllCtes
         |SELECT doc_id, n_bigrams, avg_nll FROM dnll
         |ORDER BY doc_id""".stripMargin,
    // curriculum replay: the same per-doc surprisal chain, then the
    // three exact quartile thresholds and the comparison-based bucket —
    // mirroring that the Spark side never runs a global ntile sort, only
    // a broadcast threshold filter. Thresholds UNROUNDED on both sides:
    // an interpolated quantile is either a data value exactly or sits
    // strictly between grid values; round-6 thresholds disagreed across
    // engines on the sf0.1 fixture (see difficultyBuckets)
    "x44_curriculum" ->
      s"""WITH $bigramNllCtes,
         |th AS (SELECT
         |  quantile_cont(avg_nll, 0.25) AS t1,
         |  quantile_cont(avg_nll, 0.5) AS t2,
         |  quantile_cont(avg_nll, 0.75) AS t3 FROM dnll)
         |SELECT doc_id, n_bigrams, avg_nll,
         |  CAST(1 + CAST(avg_nll > t1 AS INTEGER)
         |         + CAST(avg_nll > t2 AS INTEGER)
         |         + CAST(avg_nll > t3 AS INTEGER) AS INTEGER) AS bucket
         |FROM dnll CROSS JOIN th ORDER BY doc_id""".stripMargin,
    // sum(BIGINT) in DuckDB promotes to HUGEINT — every aggregate is cast
    // back to BIGINT before use (see q14b history)
    "x28i_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g2 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1])) AS g
         |  FROM toks WHERE len(tk) >= 2),
         |g3 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
         |  FROM toks WHERE len(tk) >= 3),
         |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
         |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
         |a2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2,
         |         CAST(max(c) AS BIGINT) AS mx2 FROM c2 GROUP BY 1),
         |a3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
         |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3
         |       FROM c3 GROUP BY 1)
         |SELECT d.doc_id,
         | CAST(coalesce(n2, 0) AS BIGINT) AS n_2grams,
         | CASE WHEN n2 > 0 THEN round(CAST(mx2 AS DOUBLE) / n2, 6) END AS top_2gram_frac,
         | CASE WHEN n3 > 0 THEN round(CAST(dup3 AS DOUBLE) / n3, 6) END AS dup_3gram_frac
         |FROM documents d LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
         |ORDER BY doc_id""".stripMargin)
}
