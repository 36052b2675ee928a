package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Deterministic sampling, splitting, and batch construction for a
  * training-data pipeline
  * (SURVEY.md §2B X31): train/val/test assignment and corpus sampling as
  * CONTENT-ADDRESSED bucketing — `bucket = sha256(id) mod 100`.
  *
  * Why not `randomSplit`/`sample`: both are partitioning-dependent (the
  * split a row lands in changes when the file layout or parallelism
  * changes), which silently leaks val rows into train across re-runs of a
  * 100 TB pipeline. A content hash is stable across engines, runs,
  * repartitioning, and incremental re-ingestion — the industry-standard
  * form — and is embarrassingly parallel (pure row function, no shuffle,
  * no state).
  *
  * The bucket uses the first 4 hex chars of SHA-256 (16 bits) parsed with
  * ascii()-arithmetic that both Spark and DuckDB evaluate identically —
  * so the assignment itself is oracle-checked, not just row counts. */
object SamplingOps {

  /** X31 — deterministic 80/10/10 split assignment over documents.
    * Fixture binding of [[graft.api.TrainingData.deterministicSplit]]. */
  def x31Split(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.deterministicSplit(
      t(s, d, "documents").select(col("doc_id")), "doc_id",
      Seq(("train", 80), ("val", 10), ("test", 10)))
      .orderBy(col("doc_id"))

  /** X31 — deterministic 20% corpus sample (same bucketing; a filter, so
    * it composes with any downstream op and prunes at the scan). */
  def x31bSample(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.hashSample(
      t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id", 20)
      .orderBy(col("doc_id"))

  /** X31 — deterministic stratified sample over documents: keep 10% of
    * 'en', 50% of 'es', 100% of everything else (corpus rebalancing).
    * Fixture binding of [[graft.api.TrainingData.stratifiedHashSample]]. */
  def x31cStratified(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.stratifiedHashSample(
      t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id",
      "lang", Map("en" -> 10, "es" -> 50))
      .orderBy(col("doc_id"))

  /** X31 — per-language quality cut: keep the top 30% of documents by
    * `n_chars` within each lang. Fixture binding of
    * [[graft.api.TrainingData.topFractionByStrata]] (exact-percentile
    * threshold + broadcast filter — no per-stratum sort). */
  def x31dQualityCut(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.topFractionByStrata(
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "n_chars", 0.3)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** X31 — the BOUNDED-MEMORY quality cut: [[x31dQualityCut]] with
    * `exact = false`, so the per-stratum threshold comes from
    * `approx_percentile`'s quantile sketch instead of the exact
    * `percentile` buffer — the form that survives a stratum with billions
    * of distinct scores. The kept SET is engine-specific (a different
    * sketch lands on a slightly different threshold), so the registered
    * output is the per-stratum BOUND AUDIT: the effective threshold
    * (min kept score) must have a rank interval overlapping the
    * 0.7-quantile target within the accuracy-10000 tolerance, and the
    * kept set must be a clean ≥-threshold filter — the LlmOpsSpec
    * arithmetic promoted into the query, hash-checked against the
    * oracle's expectation that both HOLD (the kept rows themselves stay
    * engine-specific; LlmOpsSpec still bounds the kept-set deviation
    * against the exact twin). */
  def x31gQualityCutApprox(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val kept = graft.api.TrainingData.topFractionByStrata(
      docs, "lang", "n_chars", 0.3, exact = false)
    val th = kept.groupBy(col("lang"))
      .agg(min(col("n_chars")).as("t_a"), count(lit(1)).as("n_kept"))
    docs.join(broadcast(th), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_kept")).as("nk"),
        sum(when(col("n_chars") < col("t_a"), 1L).otherwise(0L)).as("lt_t"),
        sum(when(col("n_chars") <= col("t_a"), 1L).otherwise(0L)).as("le_t"),
        sum(when(col("n_chars") >= col("t_a"), 1L).otherwise(0L)).as("ge_t"))
      .withColumn("tol", col("n_docs") / 10000 + 2)
      .select(col("lang"), col("n_docs"),
        (col("lt_t") * 10 <= col("n_docs") * 7 + col("tol") * 10 &&
          col("le_t") * 10 >= col("n_docs") * 7 - col("tol") * 10)
          .as("threshold_in_bound"),
        (col("nk") === col("ge_t")).as("clean_cut"))
      .orderBy(col("lang"))
  }

  /** X143 — exact-integer nDCG@10 per source: docs "retrieved" by
    * n_chars descending, graded relevance from the language (en=2,
    * es=1, else 0), positional discounts as truncated micro literals
    * ⌊10⁶/log₂(i+1)⌋ — the graded-relevance ranking metric completing
    * the eval shelf (x121 prices order, x126 rare-positive order, this
    * prices order under position discounts). Fixture binding of
    * [[graft.api.TrainingData.ndcgAtK]]. */
  def x143NdcgAtK(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.ndcgAtK(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), col("n_chars"),
          when(col("lang") === "en", 2L).when(col("lang") === "es", 1L)
            .otherwise(0L).as("gain")),
      "source", "n_chars", "gain", k = 10)
      .orderBy(col("grp"))

  /** X144 — Bayesian-average n_chars score per source (λ = 25 virtual
    * docs at the corpus mean): the continuous-score twin of x125's
    * Wilson bound — a 2-doc source with two lucky lengths must not
    * outrank a corpus-scale one. Exact integer micros end to end.
    * Fixture binding of [[graft.api.TrainingData.bayesAverage]]. */
  def x144BayesAverage(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.bayesAverage(
      t(s, d, "documents").select(col("source"), col("n_chars")),
      "source", "n_chars", lambda = 25L)
      .orderBy(col("grp"))

  /** X145 — Kish effective sample size per source under
    * length-proportional weighting: if documents are sampled/weighted
    * ∝ n_chars (the x39 token-budget convention), how many
    * equally-weighted documents is each source actually worth? A
    * source whose ESS fraction is low is secretly a few huge documents
    * wearing many rows. Fixture binding of
    * [[graft.api.TrainingData.essWeights]]. */
  def x145EssWeights(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.essWeights(
      t(s, d, "documents").select(col("source"), col("n_chars")),
      "source", "n_chars")

  /** X159 — Mann–Whitney rank-sum test of n_chars between English and
    * non-English documents: the SIGNIFICANCE read on the x155 PSI pair
    * ("the distributions drifted" vs "the shift is beyond chance"),
    * tie-corrected because integer lengths tie heavily. Fixture
    * binding of [[graft.api.TrainingData.mannWhitneyU]]. */
  def x159MannWhitney(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.mannWhitneyU(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").as("is_en"), col("n_chars")),
      "is_en", "n_chars")

  /** X161 — Benjamini–Hochberg FDR control over per-source long-doc
    * rates at q = 0.10: which sources' share of ≥200-char documents
    * genuinely differs from the pooled rate once multiple comparisons
    * are priced — the step-up rule over the per-slice z² surrogates.
    * Fixture binding of [[graft.api.TrainingData.bhFdr]]. */
  def x161BhFdr(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.bhFdr(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), (col("n_chars") >= 200).as("long_doc")),
      "source", "long_doc", qMicros = 100000L)

  /** X162 — McNemar paired comparison of two is-English heuristics
    * (n_chars ≥ 150 vs whitespace-token count ≥ 25) on the same
    * documents: only the flip cells carry evidence — the eval-shelf
    * read for "is filter B actually better than filter A". Fixture
    * binding of [[graft.api.TrainingData.mcNemar]]. */
  def x162McNemar(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.mcNemar(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
        .select((col("lang") === "en").as("label"),
          (col("n_chars") >= 150).as("pred_a"),
          (expr("size(filter(split(text, ' '), t -> t != ''))") >= 25)
            .as("pred_b")),
      "label", "pred_a", "pred_b")

  /** X165 — isotonic calibration of the x146 score (n_chars deciles)
    * against is-English: the monotone repair of the reliability curve
    * x122's ECE only measures, via exact bucketed
    * pool-adjacent-violators. Fixture binding of
    * [[graft.api.TrainingData.isotonicCalibration]]. */
  def x165Isotonic(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.isotonicCalibration(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select(least(lit(9L), expr("n_chars div 60")).as("bucket"),
          (col("lang") === "en").as("label")),
      "bucket", "label")

  /** X169 — quantile normalization of n_chars onto the pooled length
    * distribution, per source: after this map, "length percentile X"
    * means the same value in every source — the cross-scorer
    * calibration a mixed-corpus threshold needs. Grid 100 keeps the
    * level relation broadcastable. Fixture binding of
    * [[graft.api.TrainingData.quantileNormalize]]. */
  def x169QuantileNorm(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.quantileNormalize(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), col("n_chars")),
      "source", "n_chars", gridSize = 100)

  /** X173 — water-filling a 40k-token budget across sources by
    * quality weight (longer-doc sources weigh more) under per-source
    * supply caps: the mix-design allocation x39's budget mixing then
    * materializes. Fixture binding of
    * [[graft.api.TrainingData.waterFill]]. */
  def x173WaterFill(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.waterFill(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .groupBy(col("source"))
        .agg(sum(col("n_chars")).as("supply"),
          (count(lit(1)) % 7 + 1).as("weight")),
      "source", "supply", "weight", budget = 40000L)

  /** X179 — Kruskal–Wallis H across ALL sources' length distributions:
    * one tie-corrected rank test for "do the sources differ at all"
    * before any pairwise x159 drill-down (k = 2 reduces to x159's z²
    * exactly — spec-pinned). Fixture binding of
    * [[graft.api.TrainingData.kruskalWallis]]. */
  def x179KruskalWallis(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.kruskalWallis(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), col("n_chars")),
      "source", "n_chars")

  /** X180 — Hodges–Lehmann shift between English and non-English
    * lengths: the outlier-proof "English docs are HOW MANY chars
    * longer" effect size next to x159's significance verdict — the
    * exact weighted median of all cross-pair differences, priced at
    * value-pair grain. Fixture binding of
    * [[graft.api.TrainingData.hodgesLehmannShift]]. */
  def x180HodgesLehmann(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
    graft.api.TrainingData.hodgesLehmannShift(
      docs.filter(col("lang") === "en").select(col("n_chars")),
      docs.filter(col("lang") =!= "en").select(col("n_chars")),
      "n_chars")
  }

  /** X175 — Cochran's Q over THREE is-English heuristics (char length,
    * whitespace tokens, ' the ' marker) on the same documents: one
    * test for "do these filters have the same accuracy" before any
    * pairwise x162 drill-down. Fixture binding of
    * [[graft.api.TrainingData.cochranQ]]. */
  def x175CochranQ(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.cochranQ(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
        .select((col("lang") === "en").as("label"),
          (col("n_chars") >= 150).as("p_len"),
          (expr("size(filter(split(text, ' '), t -> t != ''))") >= 25)
            .as("p_tok"),
          col("text").contains(" the ").as("p_the")),
      "label", Seq("p_len", "p_tok", "p_the"))

  /** X176 — largest-remainder apportionment of 1000 sampling slots
    * across sources by document count: the exact-sum proportional
    * split (truncation alone under-spends by up to |sources| slots).
    * Fixture binding of
    * [[graft.api.TrainingData.largestRemainder]]. */
  def x176LargestRemainder(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.largestRemainder(
      t(s, d, "documents")
        .filter(col("source").isNotNull)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
      "source", "n_docs", seats = 1000L)

  /** X166 — leakage-free 5-fold split of events BY USER: every event of
    * a user lands in one fold (the x98 leakage audit built in up
    * front), folds balanced by serpentine assignment over size-ranked
    * users. Fixture binding of
    * [[graft.api.TrainingData.groupKFold]]. */
  def x166GroupKfold(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.groupKFold(
      t(s, d, "events").filter(col("user_id").isNotNull), "user_id", 5)

  /** X156 — per-SLICE exact ROC-AUC of the x121 score/label pair with
    * the worst/best slice broadcast: does n_chars rank is-English
    * worse on one source than another — the slice-level eval a global
    * AUC hides (a score can look fine on average and be anti-predictive
    * on one crawl). Fixture binding of
    * [[graft.api.TrainingData.aucBySlice]]. */
  def x156AucBySlice(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.aucBySlice(
      t(s, d, "documents")
        .select(col("source"), col("n_chars"),
          (col("lang") === "en").as("label")),
      "source", "n_chars", "label")

  /** X157 — token-MASS-weighted length quantiles per source: the
    * smallest length whose cumulative character mass reaches q·W —
    * "the median CHARACTER lives in a doc of length X", which on a
    * heavy-tailed corpus sits far above the by-doc median (q08b) and
    * is the number batch/pack planning (x32/x65) actually budgets.
    * Fixture binding of [[graft.api.TrainingData.weightedQuantiles]]
    * at p50/p90/p99. */
  def x157WeightedQuantiles(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.weightedQuantiles(
      t(s, d, "documents").select(col("source"), col("n_chars")),
      "source", "n_chars", "n_chars", Seq(0.5, 0.9, 0.99))

  /** X146 — Murphy (reliability/resolution/uncertainty) decomposition
    * of the Brier score for the x120 calibration pair (score =
    * min(n_chars, 600)/600 as an is-English forecast): separates "the
    * score is miscalibrated" (reliability — remap it) from "the score
    * doesn't discriminate" (low resolution — retrain it), which the
    * |gap| table of x120 can't. Fixture binding of
    * [[graft.api.TrainingData.brierDecomposition]]. */
  def x146BrierDecomp(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.brierDecomposition(
      t(s, d, "documents")
        .select((least(col("n_chars"), lit(600)).cast("double") / 600.0)
          .as("p"), (col("lang") === "en").as("label")),
      "p", "label", bins = 10)

  /** X140 — split-conformal calibration threshold per language: with n
    * calibration scores and 10% miscoverage, the threshold is the
    * ⌈0.9·(n+1)⌉-th smallest score — the finite-sample-correct quantile
    * that guarantees ≥ 90% coverage on exchangeable future points (what
    * a selective gate needs BEFORE promising a keep rate; x120/x121
    * price the score, this calibrates the cut). Groups too small for
    * the guarantee emit NULL, not max(score). Fixture binding of
    * [[graft.api.TrainingData.conformalThreshold]]. */
  def x140ConformalThreshold(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.conformalThreshold(
      t(s, d, "documents").select(col("lang"), col("n_chars")),
      "lang", "n_chars", keepPerMille = 900)

  /** X141 — per-language winsorized statistics: values clipped at the
    * exact discrete p05/p95 order statistics (actual data values — no
    * interpolation, everything in exact integers), clip counts, and the
    * winsorized mean in micros. The robust location estimate for a
    * heavy-tailed quality signal — x103 names the tail, this prices the
    * bulk without it. Fixture binding of
    * [[graft.api.TrainingData.winsorizedStats]]. */
  def x141WinsorizedStats(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.winsorizedStats(
      t(s, d, "documents").select(col("lang"), col("n_chars")),
      "lang", "n_chars")

  /** X32 — sequence packing at a 2048-token budget over documents.
    * Fixture binding of [[graft.api.TrainingData.packSequences]] (see
    * there for the two-pass global-cumsum scale design). */
  def x32SeqPack(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.packSequences(
      t(s, d, "documents"), "doc_id", "text", 2048L)
      .select(col("id").as("doc_id"), col("n_tokens"),
        col("start_off"), col("bin"))
      .orderBy(col("doc_id"))

  /** X31 — per-source document cap: at most 20 docs per `source`, kept by
    * ascending `doc_id` — the anti-monoculture curation lever. Fixture
    * binding of [[graft.api.TrainingData.capPerKey]] (see there for the
    * hot-key caveat and the two-pass mitigation). */
  def x31eCapPerKey(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.capPerKey(
      t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      "source", "doc_id", 20)
      .orderBy(col("doc_id"))

  /** X36 — Morton/Z-order values over (doc_id, n_chars): the clustering
    * key behind [[graft.api.TrainingData.saveZOrdered]]'s
    * multi-dimensional data-skipping layout, checked bit-for-bit (the
    * oracle replays the interleave with shift/mask arithmetic). */
  def x36Zorder(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        graft.api.TrainingData.zValue(col("doc_id"), col("n_chars"), 16).as("z"))
      .orderBy(col("doc_id"))

  /** X32 — context-window chunking: 20-token windows every 15 tokens
    * (5-token overlap) — the long-document treatment for a fixed model
    * context. Fixture binding of
    * [[graft.api.TrainingData.chunkDocuments]]. */
  def x32bChunk(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.chunkDocuments(
      t(s, d, "documents"), "doc_id", "text", 20, 15)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** X31 — per-row-probability sample: keep probability proportional to
    * document length (capped at 1), the doc-granularity reweighting form.
    * Fixture binding of [[graft.api.TrainingData.weightedHashSample]];
    * the 16-bit unit coordinate AND the comparison are replayed by the
    * oracle, so the kept set itself is checked, not just its size. */
  def x31fWeightedSample(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.weightedHashSample(
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          least(lit(1.0), col("n_chars") / 400.0).as("weight")),
      "doc_id", "weight")
      .orderBy(col("doc_id"))

  /** X32 — bin manifest over the 2048-token packing: the materialized
    * batch contents a dataloader consumes. Fixture binding of
    * [[graft.api.TrainingData.packedBins]] over
    * [[graft.api.TrainingData.packSequences]]. */
  def x32cPackBins(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.packedBins(
      graft.api.TrainingData.packSequences(
        t(s, d, "documents"), "doc_id", "text", 2048L))
      // registered queries emit scalars only (SparkEntrySpec contract
      // guard): the driver's comparator lexsorts pandas columns and
      // crashes on array cells, so the manifest list is serialized to a
      // canonical comma-joined string here and in the oracle
      .withColumn("doc_ids",
        array_join(transform(col("doc_ids"), _.cast("string")), ","))
      .orderBy(col("bin"))

  /** X32 — packed-bin segment layout: where each document's tokens sit
    * within each 2048-token bin (the attention-boundary map next to
    * x32c's membership manifest). Fixture binding of
    * [[graft.api.TrainingData.packedSegments]]. */
  def x32dPackSegments(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.packedSegments(
      graft.api.TrainingData.packSequences(
        t(s, d, "documents"), "doc_id", "text", 2048L), 2048L)
      .orderBy(col("bin"), col("seg_start"), col("doc_id"))

  /** X57 — deterministic weighted source interleave: a 5/3/2
    * reading-order schedule over three fixture sources (the rest are
    * outside the recipe and excluded — the weight-zero contract).
    * Fixture binding of [[graft.api.TrainingData.interleaveBySource]]. */
  def x57SourceInterleave(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.interleaveBySource(
      t(s, d, "documents").select(col("doc_id"), col("source")),
      "doc_id", "source", Seq(("src1", 5), ("src2", 3), ("src3", 2)))
      .orderBy(col("pos"), col("source"), col("doc_id"))

  /** X65 — length-grouped batching: 4 token-length quantile buckets,
    * 8-doc batches within each in content-addressed order — the
    * padding-efficiency layout. Fixture binding of
    * [[graft.api.TrainingData.lengthGroupedBatches]]. */
  def x65LengthBatches(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.lengthGroupedBatches(
      t(s, d, "documents"), "doc_id", "text", nBuckets = 4, batchSize = 8)
      .orderBy(col("doc_id"))

  /** X58 — quality-filter threshold calibration: precision/recall/F1 of
    * the keep-rule `n_chars/100 ≥ threshold` against the lang='en'
    * ground-truth stand-in — the sweep read before committing a
    * classifier cut. Fixture binding of
    * [[graft.api.TrainingData.filterThresholdSweep]]. */
  def x58ThresholdSweep(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.filterThresholdSweep(
      t(s, d, "documents")
        .select((col("n_chars") / 100.0).as("score"),
          (col("lang") === "en").as("label")),
      "score", "label", 1.0)
      .orderBy(col("threshold_bucket"))

  /** X39 — deterministic corpus mixture: 50/30/20 token-weighted blend
    * of three sources at a 2000-token budget. Fixture binding of
    * [[graft.api.TrainingData.mixByTokenBudget]]; the per-source keep
    * probability AND the salted unit coordinate are replayed by the
    * oracle, so the kept mixture SET is checked, not just its size. */
  def x39Mix(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.mixByTokenBudget(
      t(s, d, "documents"), "source", "doc_id", "text",
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 2000L)
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))

  /** X39 — replicated mixture: src0 at ~2.4 expected epochs, src1 just
    * above 1 — the upsampling path ("3 epochs of Wikipedia"). Fixture
    * binding of [[graft.api.TrainingData.mixByTokenBudgetReplicated]];
    * epoch counts and the fractional-epoch coordinate are replayed. */
  def x39bMixReplicated(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.mixByTokenBudgetReplicated(
      t(s, d, "documents"), "source", "doc_id", "text",
      Map("src0" -> 0.7, "src1" -> 0.3), 5000L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch"))

  /** X39 — temperature mixture ("α-sampling" at α = 0.5 over all 20
    * sources): weights derived from per-source token totals, low-resource
    * sources upsampled. Fixture binding of
    * [[graft.api.TrainingData.mixByTemperature]]; the oracle replays the
    * WHOLE derivation — token totals, sqrt weights, the ordered weight-sum
    * fold, per-doc probability, epoch replication. Budget 30000 puts the
    * per-source probability just above 1 epoch at sf0.001/sf0.01 (the
    * replication path) and ~0.11 at sf0.1 (the kept-set path). */
  def x39cMixTemperature(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.mixByTemperature(
      t(s, d, "documents"), "source", "doc_id", "text", 0.5, 30000L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch"))

  /** X49 — DSIR importance weighting toward the fixture's English
    * documents: every document scored by the hashed-n-gram log likelihood
    * ratio between the lang='en' feature distribution and the rest of the
    * corpus (256 buckets, unigram+bigram features) — the "select docs
    * that look like the target domain" primitive. Fixture binding of
    * [[graft.api.TrainingData.dsirWeights]]; the oracle replays the whole
    * model — feature extraction, portable bucket hash, add-one smoothed
    * counts, micro-nat λ table, per-doc integer sum. */
  // the bucketed feature stream is traversed by three plan branches
  // (model counts, λ broadcast, final per-doc sum): persisted per
  // (app, dir) like the shingle/signature relations, so the corpus is
  // exploded once rather than once per branch
  private def persistDsirFeats(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("SamplingOps.dsirFeatures", s, d)(
      graft.api.TrainingData.dsirBucketedPortable(t(s, d, "documents"),
        "doc_id", "text", col("lang") === "en", nBuckets = 256).persist())

  def x49DsirWeights(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.dsirWeightsFromBucketed(
      persistDsirFeats(s, d), nBuckets = 256)
      .orderBy(col("doc_id"))

  /** X81 — exact-count stratified selection: exactly 200 documents,
    * allocated across sources by largest remainder (Hamilton's method),
    * kept rows chosen by the content-addressed hash order. The
    * exact-total counterpart of x31c's fraction-based strata. Fixture
    * binding of [[graft.api.TrainingData.stratifiedQuota]]. */
  def x81StratifiedQuota(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.stratifiedQuota(
      t(s, d, "documents"), "doc_id", "source", budget = 200L)
      .orderBy(col("stratum"), col("rk"))

  /** X83 — epoch-3 shard layout over 8 shards: the deterministic
    * dataloader order for a multi-epoch run; every epoch permutes
    * differently (epoch salt), any engine derives the identical
    * (shard, pos). Fixture binding of
    * [[graft.api.TrainingData.epochShuffle]]. */
  def x83EpochShuffle(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.epochShuffle(
      t(s, d, "documents"), "doc_id", nShards = 8, epoch = 3)
      .orderBy(col("shard"), col("pos"))

  /** X111 — dataloader-order interleaving audit over the x83 epoch
    * layout: per shard, adjacent same-source pair count/fraction and the
    * longest same-source run — the "is the shuffle actually mixing
    * sources" check on the exact layout x83 ships. Fixture binding of
    * [[graft.api.TrainingData.shuffleQualityAudit]]. */
  def x111ShuffleQuality(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.shuffleQualityAudit(
      graft.api.TrainingData.epochShuffle(
        t(s, d, "documents"), "doc_id", nShards = 8, epoch = 3),
      t(s, d, "documents"), "doc_id", "source")
      .orderBy(col("shard"))

  /** X112 — shard load-balance audit over the same x83 layout, loads =
    * n_chars: max/min/total shard load, straggler ratio, exact Gini in
    * micros — the "will this epoch straggle" summary. Fixture binding of
    * [[graft.api.TrainingData.shardBalanceAudit]]. */
  def x112ShardBalance(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.shardBalanceAudit(
      graft.api.TrainingData.epochShuffle(
        t(s, d, "documents"), "doc_id", nShards = 8, epoch = 3),
      t(s, d, "documents"), "doc_id", "n_chars")

  /** X120 — calibration bins + ECE for the x58 score/label pair read as
    * a probability (p = min(n_chars, 600)/600, label = lang = 'en'):
    * x58 prices thresholds on this score; this prices the score's
    * probability claim itself. The 600 divisor spreads the fixture's
    * 48..553 n_chars range across all ten bins. Fixture binding of
    * [[graft.api.TrainingData.calibrationBins]]. */
  def x120Calibration(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.calibrationBins(
      t(s, d, "documents")
        .select((least(col("n_chars"), lit(600)).cast("double") / 600.0)
          .as("p"), (col("lang") === "en").as("label")),
      "p", "label", nBins = 10)
      .orderBy(col("bin"))

  /** X121 — exact Mann–Whitney ROC-AUC of the same score/label pair
    * (score = n_chars, integer — no floats anywhere): the
    * threshold-free ranking quality next to x58's per-threshold table
    * and x120's calibration. Fixture binding of
    * [[graft.api.TrainingData.aucExact]]. */
  def x121AucExact(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.aucExact(
      t(s, d, "documents")
        .select(col("n_chars").as("score"), (col("lang") === "en").as("label")),
      "score", "label")

  /** X121b — the bucketed AUC over the same score/label pair (16
    * equal-width buckets): the scale path whose distinct-score mass is
    * capped at nBuckets regardless of corpus size — exactly the AUC of
    * the coarsened score, with the integer bucket derivation replayed
    * by the oracle. Fixture binding of
    * [[graft.api.TrainingData.aucBucketed]]. */
  def x121bAucBucketed(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.aucBucketed(
      t(s, d, "documents")
        .select(col("n_chars").as("score"), (col("lang") === "en").as("label")),
      "score", "label", nBuckets = 16)

  /** X123 — Benford first-digit audit of order totals in exact cents:
    * fabricated or template-generated numeric fields flunk Benford where
    * organically-grown ones pass — the numeric-field twin of the text
    * quality screens. Fixture binding of
    * [[graft.api.TrainingData.benfordAudit]]. */
  def x123Benford(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.benfordAudit(
      t(s, d, "orders")
        .select(expr("CAST(round(o_totalprice * 100.0, 0) AS BIGINT)")
          .as("cents")),
      "cents")
      .orderBy(col("digit"))

  /** X124 — deterministic bootstrap 95% CI for mean n_chars over the
    * corpus (40 replicates, content-addressed Poisson weights): the
    * error bar every corpus-level metric should ship with. Fixture
    * binding of [[graft.api.TrainingData.bootstrapCiMicro]]. */
  def x124BootstrapCi(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.bootstrapCiMicro(
      t(s, d, "documents"), "doc_id", "n_chars", nReplicates = 40)
      .orderBy(col("rep"))

  /** X125 — per-source English rate with the Wilson-score lower bound
    * at z = 1.96: ranking sources by the lower bound instead of the raw
    * rate is the standard fix for small-n sources looking spuriously
    * clean. Fixture binding of
    * [[graft.api.TrainingData.wilsonBounds]]. */
  def x125WilsonBounds(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.wilsonBounds(
      t(s, d, "documents")
        .select(col("source"), (col("lang") === "en").as("is_en")),
      "source", "is_en")
      .orderBy(col("grp"))

  /** X126 — exact average precision of the x121 score/label pair: AUC's
    * random baseline is 500 000 regardless of prevalence, AP's baseline
    * IS the prevalence — the imbalanced-label companion. Fixture
    * binding of [[graft.api.TrainingData.averagePrecisionExact]]. */
  def x126AvgPrecision(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.averagePrecisionExact(
      t(s, d, "documents")
        .select(col("n_chars").as("score"), (col("lang") === "en").as("label")),
      "score", "label")

  /** X128 — source-concentration audit over documents: per-source share
    * in exact micros plus HHI and Shannon entropy broadcast — is this
    * corpus secretly one crawl wearing twenty source labels? Fixture
    * binding of [[graft.api.TrainingData.sourceConcentration]]. */
  def x128SourceConcentration(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.sourceConcentration(
      t(s, d, "documents"), "source")
      .orderBy(col("grp"))

  /** X96 — sliding-window passage chunking over documents: 16-token
    * windows advancing by 12 (overlap 4), dense chunk ids — the RAG /
    * long-document passage layout (X32's bin packing concatenates MANY
    * docs into budget bins; this windows WITHIN one doc with overlap so
    * boundary-straddling facts appear whole in some chunk). Fixture
    * binding of [[graft.api.TrainingData.passageChunks]]. */
  def x96PassageChunks(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.passageChunks(
      t(s, d, "documents"), "doc_id", "text", size = 16, overlap = 4)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** X102 — Efraimidis–Spirakis weighted priority sampling: exactly 100
    * documents, inclusion ∝ n_chars — the fixed-budget weighted
    * selection next to x31f's Bernoulli sample (size varies) and x81's
    * per-stratum quota (uniform within stratum). Fixture binding of
    * [[graft.api.TrainingData.weightedPrioritySample]]. */
  def x102PrioritySample(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.weightedPrioritySample(
      t(s, d, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", k = 100)
      .orderBy(col("key_micro"), col("doc_id"))

  /** X184 — Mood's median test of per-source document length: does
    * each source's share of above-median-length docs match its size —
    * the rank-free location screen beside x179's Kruskal–Wallis on the
    * SAME (source, n_chars) relation. Fixture binding of
    * [[graft.api.TrainingData.moodsMedianTest]]. */
  def x184MoodsMedian(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.moodsMedianTest(
      t(s, d, "documents"), "source", "n_chars")

  /** X185 — Wald–Wolfowitz runs test over the daily event-volume
    * series: do above/below-median days CLUMP (drift, regime shifts)
    * or alternate — the sign-pattern read beside x131's autocorrelation
    * and x132's CUSUM on the same series. Days are min-anchored so the
    * bucketing division never sees a negative operand. Fixture binding
    * of [[graft.api.TrainingData.runsTest]]. */
  def x185RunsTest(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.runsTest(dailyCounts(s, d), "day", "n_events")

  /** X186 — pairwise 1-D earth mover's distance between every source
    * pair's document-length distributions: the matrix that PRICES how
    * far length mass moved between sources, next to x63's KL and x90's
    * KS on the same axis. Fixture binding of
    * [[graft.api.TrainingData.emdPairs]]. */
  def x186EmdPairs(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.emdPairs(t(s, d, "documents"),
      "source", "n_chars")

  /** X187 — Cliff's delta + CLES for en-vs-rest document length: the
    * ordinal effect size on exactly x159's two samples, so the z² and
    * the "en wins p% of cross pairs" read come off one corpus. Fixture
    * binding of [[graft.api.TrainingData.cliffsDelta]]. */
  def x187CliffsDelta(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.cliffsDelta(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").as("is_en"), col("n_chars")),
      "is_en", "n_chars")

  /** X188 — ICC(1,1) of event values at a synthetic item grain
    * (user_id mod 97, the x31 id-arithmetic convention): what share of
    * value variance is BETWEEN items vs noise within — the numeric
    * reliability read beside x167's (categorical) Krippendorff α.
    * Fixture binding of [[graft.api.TrainingData.iccOneWay]]. */
  def x188IccOneway(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.iccOneWay(
      t(s, d, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((col("user_id") % 97).as("item_key"), col("value")),
      "item_key", "value")

  /** X189 — Poisson dispersion test of per-user event counts: is the
    * per-user volume Poisson-ish or bursty — the modeling gate before
    * any rate assumption on this stream, beside x80's per-term
    * burstiness. Fixture binding of
    * [[graft.api.TrainingData.dispersionTest]]. */
  def x189Dispersion(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.dispersionTest(
      t(s, d, "events").filter(col("user_id").isNotNull), "user_id")

  /** Min-anchored daily event-count series — the shared fixture axis
    * of x185 (runs test) and x190 (Mann–Kendall): one row per day,
    * nonnegative bucketing operands by construction. */
  private def dailyCounts(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .filter(col("ts").isNotNull)
      .select(tsMs(col("ts")).as("ms"))
    val lo = ev.agg(min(col("ms")).as("lo"))
    ev.crossJoin(broadcast(lo))
      .select(expr("(ms - lo) div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
  }

  /** X190 — Mann–Kendall trend test over the daily event-volume
    * series: the directional monotone-trend significance beside x160's
    * Theil–Sen slope and x185's runs test on the same axis. Fixture
    * binding of [[graft.api.TrainingData.mannKendallTrend]]. */
  def x190MannKendall(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.mannKendallTrend(
      dailyCounts(s, d), "day", "n_events")

  /** X192 — Youden-J optimal threshold of the en-vs-rest length
    * classifier: WHERE to cut n_chars so TPR − FPR is maximal — the
    * actionable end of x121's AUC on the same axis, with the full
    * confusion at the cut. Fixture binding of
    * [[graft.api.TrainingData.youdenThreshold]]. */
  def x192YoudenJ(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.youdenThreshold(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").as("is_en"), col("n_chars")),
      "is_en", "n_chars")

  /** X193 — rank-biased overlap between the top-10-by-chars and
    * top-10-by-tokens document rankings (p = 0.9): do the two length
    * notions serve the same head, weighted toward rank 1 — the
    * two-ranker agreement read beside x143's nDCG. Both lists are
    * TakeOrdered top-k, never a global sort. Fixture binding of
    * [[graft.api.TrainingData.rboOverlap]]. */
  def x193Rbo(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        col("n_chars").isNotNull)
    val wA = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars").desc, col("doc_id"))
    val listA = docs.select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(wA))
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy(col("ntok").desc, col("doc_id"))
    val listB = docs.select(col("doc_id"),
        expr("size(filter(split(text, ' '), t -> t != ''))")
          .cast("long").as("ntok"))
      .orderBy(col("ntok").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(wB))
    graft.api.TrainingData.rboOverlap(listA, listB, "doc_id", "rank", 10)
  }

  /** X194 — Holm (FWER) + Benjamini–Yekutieli (dependence-robust FDR)
    * verdicts over the SAME per-source long-doc-rate slices as x161's
    * BH, at α = 0.05: the three standard multiplicity corrections
    * readable side by side on one corpus. Fixture binding of
    * [[graft.api.TrainingData.multipleTestingStepdown]]. */
  def x194HolmBy(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.multipleTestingStepdown(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("n_chars").isNotNull)
        .select(col("source"), (col("n_chars") >= 200).as("long_doc")),
      "source", "long_doc", alphaMicros = 50000L)

  /** X197 — Gini concentration + Lorenz curve of corpus mass across
    * sources: the inequality shape beside x128's HHI scalar. Fixture
    * binding of [[graft.api.TrainingData.giniConcentration]]. */
  def x197Gini(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.giniConcentration(
      t(s, d, "documents"), "source")

  /** X209 — Theil T inequality of character mass across documents with
    * its within/between-SOURCE decomposition: is length inequality a
    * between-crawl or a within-crawl phenomenon — the additive split
    * x197's Gini cannot give. Fixture binding of
    * [[graft.api.TrainingData.theilIndex]]. */
  def x209Theil(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.theilIndex(
      t(s, d, "documents"), "source", "n_chars")

  /** X210 — Bowker symmetry test over the x89 event-transition matrix:
    * is traffic between event types symmetric, or does the log carry a
    * net drift direction — the k×k McNemar. Fixture binding of
    * [[graft.api.TrainingData.bowkerSymmetry]] over
    * [[graft.api.TrainingData.transitionMatrix]]. */
  def x210Bowker(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.bowkerSymmetry(
      graft.api.TrainingData.transitionMatrix(
        t(s, d, "events"), "user_id", "event_type", "ts", "event_id"),
      "from_type", "to_type", "n")

  /** X211 — Hill-number diversity profile of corpus character mass
    * across sources (q = 0/1/2 effective source counts + Pielou
    * evenness): the unified read over x136's richness, entropy, and
    * x128's concentration. Fixture binding of
    * [[graft.api.TrainingData.hillDiversity]]. */
  def x211Hill(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.hillDiversity(
      t(s, d, "documents"), "source", "n_chars")

  /** X212 — Bland–Altman agreement between the two length signals
    * every quality gate mixes (character count vs 5·whitespace-token
    * count): bias, spread, 95% limits of agreement, and how many
    * documents fall outside them — systematic offset vs noise, which
    * correlation (x122) cannot separate. Fixture binding of
    * [[graft.api.TrainingData.blandAltman]]. */
  def x212BlandAltman(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.blandAltman(
      t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("n_chars"),
          (expr("size(filter(split(text, ' '), t -> t != ''))")
            .cast("long") * 5L).as("tok5")),
      "n_chars", "tok5")

  /** X213 — Newcombe hybrid CI for the en-rate DIFFERENCE between the
    * even and odd doc_id halves (the A/B-split shape): the two-arm
    * companion to x125's per-group Wilson bounds. Fixture binding of
    * [[graft.api.TrainingData.newcombeDiff]]. */
  def x213Newcombe(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.newcombeDiff(
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("lang").isNotNull)
        .select((col("doc_id") % 2 === 0).as("arm_a"),
          (col("lang") === "en").as("is_en")),
      "arm_a", "is_en")

  /** X214 — per-source sample size an A/B test would need to detect a
    * 10% relative change in the en-rate (α = 0.05, power 0.8): the
    * planning op of the eval shelf — rare-rate slices are where the
    * labeling budget explodes, per-source is the grain that shows it.
    * Fixture binding of
    * [[graft.api.TrainingData.requiredSampleSize]]. */
  def x214Power(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.requiredSampleSize(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .select(col("source"), (col("lang") === "en").as("is_en")),
      "source", "is_en", liftPerMille = 100)
      .orderBy(col("grp"))

  /** X215 — Jonckheere–Terpstra trend of event payload size across
    * the 24 hour-of-day buckets: does props length trend monotonically
    * through the day — the continuous-outcome member of the trend
    * family (x201 binary, x190 series). Hour buckets are tz-free
    * integer arithmetic on epoch millis. Fixture binding of
    * [[graft.api.TrainingData.jonckheereTerpstra]]. */
  def x215Jonckheere(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.jonckheereTerpstra(
      t(s, d, "events")
        .filter(col("ts").isNotNull && col("props").isNotNull)
        .select(expr("(unix_millis(CAST(ts AS TIMESTAMP)) div 3600000L)" +
          " % 24").as("hour_bucket"),
          length(col("props")).as("plen")),
      "hour_bucket", "plen")

  /** X216 — Monroe–Colaresi–Quinn weighted log-odds: the 25 terms
    * most over/under-represented in the en sub-corpus vs the rest,
    * z-scored under an informative Dirichlet prior (α₀ = 1000) so
    * rare-but-extreme terms don't own the list. Fixture binding of
    * [[graft.api.TrainingData.monroeLogOdds]]. */
  def x216MonroeLogodds(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.monroeLogOdds(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("text").isNotNull)
        .select((col("lang") === "en").as("is_en"), col("text")),
      "is_en", "text", alpha0 = 1000.0, topK = 25)

  /** X217 — Cohen's h of each source's en-rate against the rest of
    * the corpus: the EFFECT-SIZE read (small/medium/large at
    * 0.2/0.5/0.8) that x77's χ² significance and x125's intervals
    * both lack, and the δ input to x214's planning formula. Fixture
    * binding of [[graft.api.TrainingData.cohensH]]. */
  def x217CohensH(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.cohensH(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .select(col("source"), (col("lang") === "en").as("is_en")),
      "source", "is_en")

  /** X218 — Page's L trend over per-user activity in the three thirds
    * of the observation window (ordered treatments = time order):
    * does per-user volume trend across the window, not just differ
    * (x181's omnibus read on the same machinery). Fixture binding of
    * [[graft.api.TrainingData.pageTrend]]. */
  def x218PageTrend(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        expr("unix_millis(CAST(ts AS TIMESTAMP))").as("ms"))
    val bounds = e.agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
    val blk = e.crossJoin(broadcast(bounds))
      .withColumn("b",
        least(lit(2L), expr("((ms - lo) * 3) div (hi - lo + 1)")))
      .groupBy(col("user_id"))
      .agg(sum(when(col("b") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("b") === 2, 1L).otherwise(0L)).as("c2"))
    graft.api.TrainingData.pageTrend(blk, Seq("c0", "c1", "c2"))
  }

  /** X221 — Chao–Shen coverage-adjusted corpus entropy vs the plain
    * MLE estimate: how much token-distribution entropy the sample is
    * hiding behind its unseen mass — the bias-corrected companion to
    * x100's coverage, x136's richness and x211's seen-mass profile.
    * Fixture binding of
    * [[graft.api.TrainingData.chaoShenEntropy]]. */
  def x221ChaoShen(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.chaoShenEntropy(
      t(s, d, "documents"), "text")

  /** X221b — the same estimator at 3-shingle grain, where the fixture
    * actually HAS a singleton tail (the unigram vocabulary is closed —
    * x221's Ĉ = 1 row publishes that honestly; this row shows the
    * correction biting). Fixture binding of
    * [[graft.api.TrainingData.chaoShenEntropyShingles]]. */
  def x221bChaoShenShingles(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.chaoShenEntropyShingles(
      t(s, d, "documents"), "text")

  /** X219 — delete-one-SOURCE jackknife of the corpus en-rate: each
    * source's leave-out replicate, its signed influence on the corpus
    * metric, and the exact delete-group jackknife SE — one pass, no
    * resampling (ratio-of-sums replicates are exact from group
    * aggregates). Fixture binding of
    * [[graft.api.TrainingData.jackknifeRatio]]. */
  def x219Jackknife(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.jackknifeRatio(
      t(s, d, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .select(col("source"), (col("lang") === "en").as("is_en")),
      "source", "is_en")

  /** X220 — TOST equivalence of the en-rate between the even and odd
    * doc_id halves at a ±2pp margin: the "same enough to ship"
    * verdict the significance shelf can't give (absence of
    * significance is not equivalence). Fixture binding of
    * [[graft.api.TrainingData.tostEquivalence]]. */
  def x220Tost(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.tostEquivalence(
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("lang").isNotNull)
        .select((col("doc_id") % 2 === 0).as("arm_a"),
          (col("lang") === "en").as("is_en")),
      "arm_a", "is_en", marginMicros = 20000L)

  /** X198 — deterministic label-permutation test of the en-vs-rest
    * n_chars total (B = 40 sha-derived relabelings): the
    * assumption-free p beside x159's normal-approximation z² on the
    * SAME comparison. Fixture binding of
    * [[graft.api.TrainingData.permutationTestSum]]. */
  def x198PermTest(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.permutationTestSum(
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), (col("lang") === "en").as("is_en"),
          col("n_chars")),
      "doc_id", "is_en", "n_chars", b = 40)

  /** X199 — Neyman-optimal allocation of a 1000-row labeling budget
    * across sources, weighted by within-source n_chars spread: the
    * variance-minimizing upgrade over x81's proportional quota,
    * integer seats via the x176 largest-remainder machinery. Fixture
    * binding of [[graft.api.TrainingData.neymanAllocation]]. */
  def x199Neyman(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.neymanAllocation(
      t(s, d, "documents"), "source", "n_chars", budget = 1000L)

  /** X200 — Hill tail-index of per-user event counts (k = 50): how
    * heavy the activity tail is — the extreme-order-statistics read
    * beside x85's whole-distribution Zipf slope and x189's dispersion.
    * Fixture binding of [[graft.api.TrainingData.hillTailIndex]]. */
  def x200Hill(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.hillTailIndex(
      t(s, d, "events").filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev")),
      "n_ev", k = 50)

  /** X201 — Cochran–Armitage trend of the en rate across ordered
    * length buckets (least(9, n_chars div 100)): does English share
    * TREND with length — the one-degree-of-freedom sharpening of
    * x77's omnibus χ² on an ordered exposure. Fixture binding of
    * [[graft.api.TrainingData.cochranArmitage]]. */
  def x201CochranArmitage(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.cochranArmitage(
      t(s, d, "documents")
        .filter(col("n_chars").isNotNull && col("lang").isNotNull)
        .select(expr("least(9L, n_chars div 100)").as("bucket"),
          (col("lang") === "en").as("is_en")),
      "bucket", "is_en")

  /** X202 — Durbin–Watson statistic of the daily event-volume series:
    * the classic ≈2(1−ρ₁) read beside x131's autocorrelation and
    * x185's runs test on the same axis. Fixture binding of
    * [[graft.api.TrainingData.durbinWatson]]. */
  def x202DurbinWatson(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.durbinWatson(dailyCounts(s, d), "day",
      "n_events")

  /** X203 — G-test of per-source language drift vs the corpus-wide
    * distribution: the log-likelihood twin of x77's Pearson χ² on the
    * identical (source, lang) table — 2N·KL in micro-nats, zero cells
    * free. Fixture binding of
    * [[graft.api.TrainingData.gTestDrift]]. */
  def x203GTest(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.gTestDrift(
      t(s, d, "documents"), "source", "lang")

  /** X204 — Dunn post-hoc pairwise rank tests over the x179 axis
    * (source × n_chars): WHICH source pairs differ in length
    * distribution after Kruskal–Wallis says some do; the z² column is
    * bhFdr/x194 fodder. Fixture binding of
    * [[graft.api.TrainingData.dunnPostHoc]]. */
  def x204Dunn(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.dunnPostHoc(
      t(s, d, "documents"), "source", "n_chars")

  /** X205 — empirical-Bernstein bound on each source's mean n_chars at
    * δ = 0.05: the variance-adaptive error bar beside x125's Wilson
    * proportion bounds. Fixture binding of
    * [[graft.api.TrainingData.empiricalBernstein]]. */
  def x205Bernstein(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.empiricalBernstein(
      t(s, d, "documents"), "source", "n_chars")

  /** X207 — Kendall's W across the three length/richness signals of
    * x69's fusion trio (n_chars, token count, distinct-token count):
    * do the quality signals even agree before they are fused — W near
    * 1 says the fusion is redundant, near 0 says each signal carries
    * its own information. Fixture binding of
    * [[graft.api.TrainingData.kendallW]]. */
  def x207KendallW(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.kendallW(
      t(s, d, "documents")
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"), col("n_chars"),
          expr("size(filter(split(text, ' '), t -> t != ''))")
            .cast("long").as("ntok"),
          expr("size(array_distinct(filter(split(text, ' '),"
            + " t -> t != '')))").cast("long").as("ndist")),
      "doc_id", Seq("n_chars", "ntok", "ndist"))

  /** X208 — Q–Q shift profile of en-vs-rest document length: per
    * decile, each side's exact order statistic and the gap — WHERE in
    * the distribution the en shift lives, under x159's z², x187's δ
    * and x180's single shift number on the same comparison. Fixture
    * binding of [[graft.api.TrainingData.qqShift]]. */
  def x208QqShift(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.qqShift(
      t(s, d, "documents")
        .filter(col("lang").isNotNull && col("n_chars").isNotNull)
        .select((col("lang") === "en").as("is_en"), col("n_chars")),
      "is_en", "n_chars")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x207_kendall_w" -> (x207KendallW _),
    "x208_qq_shift" -> (x208QqShift _),
    "x204_dunn" -> (x204Dunn _),
    "x205_bernstein" -> (x205Bernstein _),
    "x199_neyman" -> (x199Neyman _),
    "x200_hill" -> (x200Hill _),
    "x201_cochran_armitage" -> (x201CochranArmitage _),
    "x202_durbin_watson" -> (x202DurbinWatson _),
    "x203_gtest" -> (x203GTest _),
    "x197_gini" -> (x197Gini _),
    "x198_perm_test" -> (x198PermTest _),
    "x209_theil" -> (x209Theil _),
    "x215_jonckheere" -> (x215Jonckheere _),
    "x219_jackknife" -> (x219Jackknife _),
    "x220_tost" -> (x220Tost _),
    "x221_chao_shen" -> (x221ChaoShen _),
    "x221b_chao_shen_shingles" -> (x221bChaoShenShingles _),
    "x216_monroe_logodds" -> (x216MonroeLogodds _),
    "x217_cohens_h" -> (x217CohensH _),
    "x218_page_trend" -> (x218PageTrend _),
    "x210_bowker" -> (x210Bowker _),
    "x211_hill_diversity" -> (x211Hill _),
    "x212_bland_altman" -> (x212BlandAltman _),
    "x213_newcombe" -> (x213Newcombe _),
    "x214_power" -> (x214Power _),
    "x190_mann_kendall" -> (x190MannKendall _),
    "x192_youden_j" -> (x192YoudenJ _),
    "x193_rbo" -> (x193Rbo _),
    "x194_holm_by" -> (x194HolmBy _),
    "x184_moods_median" -> (x184MoodsMedian _),
    "x185_runs_test" -> (x185RunsTest _),
    "x186_emd_pairs" -> (x186EmdPairs _),
    "x187_cliffs_delta" -> (x187CliffsDelta _),
    "x188_icc_oneway" -> (x188IccOneway _),
    "x189_dispersion" -> (x189Dispersion _),
    "x111_shuffle_quality" -> (x111ShuffleQuality _),
    "x112_shard_balance" -> (x112ShardBalance _),
    "x120_calibration" -> (x120Calibration _),
    "x121_auc_exact" -> (x121AucExact _),
    "x121b_auc_bucketed" -> (x121bAucBucketed _),
    "x123_benford" -> (x123Benford _),
    "x124_bootstrap_ci" -> (x124BootstrapCi _),
    "x125_wilson_bounds" -> (x125WilsonBounds _),
    "x126_avg_precision" -> (x126AvgPrecision _),
    "x128_source_concentration" -> (x128SourceConcentration _),
    "x102_priority_sample" -> (x102PrioritySample _),
    "x96_passage_chunks" -> (x96PassageChunks _),
    "x83_epoch_shuffle" -> (x83EpochShuffle _),
    "x81_stratified_quota" -> (x81StratifiedQuota _),
    "x49_dsir_weights" -> (x49DsirWeights _),
    "x39_mix" -> (x39Mix _),
    "x39b_mix_replicated" -> (x39bMixReplicated _),
    "x39c_mix_temperature" -> (x39cMixTemperature _),
    "x31_split" -> (x31Split _),
    "x32c_pack_bins" -> (x32cPackBins _),
    "x31e_cap_per_key" -> (x31eCapPerKey _),
    "x31f_weighted_sample" -> (x31fWeightedSample _),
    "x32b_chunk" -> (x32bChunk _),
    "x36_zorder" -> (x36Zorder _),
    "x31b_sample" -> (x31bSample _),
    "x31c_stratified" -> (x31cStratified _),
    "x31d_quality_cut" -> (x31dQualityCut _),
    "x31g_quality_cut_approx" -> (x31gQualityCutApprox _),
    "x140_conformal_threshold" -> (x140ConformalThreshold _),
    "x141_winsorized_stats" -> (x141WinsorizedStats _),
    "x143_ndcg_at_k" -> (x143NdcgAtK _),
    "x144_bayes_average" -> (x144BayesAverage _),
    "x145_ess_weights" -> (x145EssWeights _),
    "x146_brier_decomp" -> (x146BrierDecomp _),
    "x156_auc_by_slice" -> (x156AucBySlice _),
    "x159_mann_whitney" -> (x159MannWhitney _),
    "x161_bh_fdr" -> (x161BhFdr _),
    "x162_mcnemar" -> (x162McNemar _),
    "x165_isotonic" -> (x165Isotonic _),
    "x166_group_kfold" -> (x166GroupKfold _),
    "x169_quantile_norm" -> (x169QuantileNorm _),
    "x173_water_fill" -> (x173WaterFill _),
    "x175_cochran_q" -> (x175CochranQ _),
    "x176_largest_remainder" -> (x176LargestRemainder _),
    "x179_kruskal_wallis" -> (x179KruskalWallis _),
    "x180_hodges_lehmann" -> (x180HodgesLehmann _),
    "x157_weighted_quantiles" -> (x157WeightedQuantiles _),
    "x32_seqpack" -> (x32SeqPack _),
    "x32d_pack_segments" -> (x32dPackSegments _),
    "x57_source_interleave" -> (x57SourceInterleave _),
    "x58_threshold_sweep" -> (x58ThresholdSweep _),
    "x65_length_batches" -> (x65LengthBatches _))

  // the same 16-bit hex parse, DuckDB spelling (both engines emit
  // lowercase sha256 hex and agree on ascii())
  private[ops] def hash16Sql(idCol: String): String = {
    val digit = (i: Int) => {
      val a = s"ascii(substring(sha256(CAST($idCol AS VARCHAR)), $i, 1))"
      s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
    }
    s"(((${digit(1)} * 16 + ${digit(2)}) * 16 + ${digit(3)}) * 16 + ${digit(4)})"
  }

  private def bucketSql(idCol: String): String = s"(${hash16Sql(idCol)} % 100)"

  // bit-interleave replayed with shift/mask arithmetic (both engines'
  // >>/<</& agree on BIGINT)
  private def zSql(xc: String, yc: String, bits: Int): String = {
    val mask = (1L << bits) - 1
    (0 until bits).flatMap { i =>
      Seq(s"(((($xc & $mask) >> $i) & 1) << ${2 * i})",
        s"(((($yc & $mask) >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " | ", ")")
  }

  val oracles: Map[String, String] = Map(
    // Kendall-W replay: the three melted signals, per-signal doubled
    // midranks, item rank sums, tie-corrected W and the Friedman-link χ²
    "x207_kendall_w" ->
      """WITH d0 AS (SELECT doc_id, n_chars,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t <> '')) AS BIGINT) AS ntok,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |      t -> t <> ''))) AS BIGINT) AS ndist
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |melt AS (SELECT doc_id AS id, 0 AS sig, n_chars AS v FROM d0
        |  UNION ALL SELECT doc_id, 1, ntok FROM d0
        |  UNION ALL SELECT doc_id, 2, ndist FROM d0),
        |bysv AS (SELECT sig, v, CAST(count(*) AS BIGINT) AS c
        |  FROM melt GROUP BY 1, 2),
        |rk AS (SELECT sig, v, c,
        |    coalesce(sum(c) OVER (PARTITION BY sig ORDER BY v ROWS
        |      BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM bysv),
        |tie AS (SELECT coalesce(sum(CAST(c AS HUGEINT) * c * c - c), 0)
        |    AS t FROM rk),
        |pi AS (SELECT id, CAST(sum(2 * cb + c + 1) AS BIGINT) AS r2
        |  FROM melt JOIN rk USING (sig, v) GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pi),
        |ag AS (SELECT n, t,
        |    sum((CAST(r2 AS HUGEINT) - 3 * (n + 1))
        |      * (CAST(r2 AS HUGEINT) - 3 * (n + 1))) AS s4
        |  FROM pi, tt, tie GROUP BY n, t)
        |SELECT n, CAST(3 AS BIGINT) AS m,
        |  CASE WHEN 9 * (CAST(n AS HUGEINT) * n * n - n) - 3 * t <= 0
        |    THEN NULL
        |    ELSE CAST((3000000 * s4)
        |      // (9 * (CAST(n AS HUGEINT) * n * n - n) - 3 * t)
        |      AS BIGINT) END AS w_micros,
        |  CASE WHEN 9 * (CAST(n AS HUGEINT) * n * n - n) - 3 * t <= 0
        |    THEN NULL
        |    ELSE 3 * (n - 1) * CAST((3000000 * s4)
        |      // (9 * (CAST(n AS HUGEINT) * n * n - n) - 3 * t)
        |      AS BIGINT) END AS chi2_micros
        |FROM ag""".stripMargin,
    // Q–Q replay: per-side cumulative distinct values, ⌈p·n/100⌉ order
    // statistics on a decile series, side pivot
    "x208_qq_shift" ->
      """WITH b AS (SELECT CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END
        |      AS side, n_chars AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |gv AS (SELECT side, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |cum AS (SELECT side, v, CAST(sum(c) OVER (PARTITION BY side
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum
        |  FROM gv),
        |ns AS (SELECT side, CAST(sum(c) AS BIGINT) AS n
        |  FROM gv GROUP BY 1),
        |dec AS (SELECT d * 10 AS pct FROM generate_series(1, 9) AS g(d)),
        |th AS (SELECT g.side, d.pct, g.n, min(c.v) AS value
        |  FROM ns g CROSS JOIN dec d JOIN cum c ON c.side = g.side
        |    AND c.cum >= (g.n * d.pct + 99) // 100
        |  GROUP BY 1, 2, 3),
        |aa AS (SELECT pct, n AS n_a, value AS q_a FROM th
        |  WHERE side = 'a'),
        |bb AS (SELECT pct, n AS n_b, value AS q_b FROM th
        |  WHERE side = 'b')
        |SELECT aa.pct, n_a, n_b, q_a, q_b, q_a - q_b AS shift
        |FROM aa JOIN bb USING (pct) ORDER BY pct""".stripMargin,
    // Dunn replay: the x179 pooled-midrank CTEs, cross-multiplied pair
    // statistic, two chained truncated divisions in HUGEINT
    "x204_dunn" ->
      """WITH b AS (SELECT CAST(source AS VARCHAR) AS grp, n_chars AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |gv AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |pool AS (SELECT v, CAST(sum(c) AS BIGINT) AS pc
        |  FROM gv GROUP BY 1),
        |cum AS (SELECT v, pc,
        |    coalesce(sum(pc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM pool),
        |tie AS (SELECT coalesce(sum(CAST(pc AS HUGEINT) * pc * pc - pc),
        |    0) AS t FROM cum),
        |per AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n_g,
        |    sum(CAST(c AS HUGEINT) * (2 * cb + pc + 1)) AS r2
        |  FROM gv JOIN cum USING (v) GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn FROM per)
        |SELECT a.grp AS grp_a, b2.grp AS grp_b,
        |  a.n_g AS n_a, b2.n_g AS n_b,
        |  CAST((1000000 * a.r2) // (2 * CAST(a.n_g AS HUGEINT))
        |    AS BIGINT) AS mean_rank_a_micros,
        |  CAST((1000000 * b2.r2) // (2 * CAST(b2.n_g AS HUGEINT))
        |    AS BIGINT) AS mean_rank_b_micros,
        |  CASE WHEN CAST(nn AS HUGEINT) * (nn + 1) * (nn - 1) - t <= 0
        |    THEN NULL
        |    ELSE CAST((3000000 * ((a.r2 * b2.n_g - b2.r2 * a.n_g)
        |      * (a.r2 * b2.n_g - b2.r2 * a.n_g)
        |      // (CAST(a.n_g AS HUGEINT) * b2.n_g)) * (nn - 1))
        |      // ((CAST(a.n_g AS HUGEINT) + b2.n_g)
        |      * (CAST(nn AS HUGEINT) * (nn + 1) * (nn - 1) - t))
        |      AS BIGINT)
        |  END AS z_sq_micros
        |FROM per a JOIN per b2 ON a.grp < b2.grp, tt, tie
        |ORDER BY grp_a, grp_b""".stripMargin,
    // Bernstein replay: exact margins, the identical written-out IEEE
    // sequence with ln(3/δ) shipped as the same double literal
    "x205_bernstein" ->
      s"""WITH per AS (SELECT CAST(source AS VARCHAR) AS grp,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(n_chars) AS BIGINT) AS sx,
         |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sx2,
         |    CAST(max(n_chars) - min(n_chars) AS BIGINT) AS val_range
         |  FROM documents WHERE source IS NOT NULL
         |    AND n_chars IS NOT NULL GROUP BY 1),
         |st AS (SELECT grp, n, val_range,
         |    CAST((1000000 * CAST(sx AS HUGEINT)) // n AS BIGINT)
         |      AS mean_micros,
         |    CASE WHEN n < 2 THEN NULL ELSE
         |      CAST(round((sqrt((2.0 * (CAST(CAST(n AS HUGEINT) * sx2
         |        - CAST(sx AS HUGEINT) * sx AS DOUBLE)
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
         |        * CAST(4.0943445622221 AS DOUBLE)) / CAST(n AS DOUBLE))
         |        + (3.0 * CAST(val_range AS DOUBLE)
         |        * CAST(4.0943445622221 AS DOUBLE)) / CAST(n AS DOUBLE))
         |        * 1000000.0, 0) AS BIGINT)
         |    END AS bound_micros
         |  FROM per)
         |SELECT grp, n, val_range, mean_micros, bound_micros,
         |  mean_micros - bound_micros AS lo_micros,
         |  mean_micros + bound_micros AS hi_micros
         |FROM st ORDER BY grp""".stripMargin,
    // Neyman replay: milli quantization, exact variance form, the ONE
    // IEEE sqrt rounded once, then the x176 seat arithmetic verbatim
    "x199_neyman" ->
      """WITH q0 AS (SELECT CAST(source AS VARCHAR) AS stratum,
        |    CAST(round(CAST(n_chars AS DOUBLE) * 1000.0, 0) AS BIGINT)
        |      AS x
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |per AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS sx2
        |  FROM q0 GROUP BY 1),
        |sg AS (SELECT stratum, n_rows,
        |    CASE WHEN n_rows < 2 THEN 0
        |      ELSE CAST(round(sqrt(CAST((CAST(n_rows AS HUGEINT) * sx2
        |        - CAST(sx AS HUGEINT) * sx)
        |        // (CAST(n_rows AS HUGEINT) * (n_rows - 1)) AS DOUBLE)),
        |        0) AS BIGINT) END AS sigma_milli
        |  FROM per),
        |w AS (SELECT stratum, n_rows, sigma_milli,
        |    CAST(CAST(n_rows AS HUGEINT) * sigma_milli AS BIGINT)
        |      AS neyman_weight
        |  FROM sg),
        |pos AS (SELECT * FROM w WHERE neyman_weight > 0),
        |tt AS (SELECT CAST(sum(neyman_weight) AS BIGINT) AS w_all
        |  FROM pos),
        |q AS (SELECT stratum, n_rows, sigma_milli, neyman_weight,
        |    (1000 * neyman_weight) // w_all AS base,
        |    (1000 * neyman_weight) % w_all AS remainder
        |  FROM pos, tt),
        |lo AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS r FROM q),
        |rk AS (SELECT *, row_number() OVER (
        |    ORDER BY remainder DESC, stratum) AS rem_rank FROM q)
        |SELECT stratum, n_rows, sigma_milli, neyman_weight, base,
        |  remainder, rem_rank,
        |  base + CASE WHEN rem_rank <= r THEN 1 ELSE 0 END AS alloc
        |FROM rk, lo ORDER BY stratum""".stripMargin,
    // Hill replay: TakeOrdered top-(k+1), micro-nat ln per order stat,
    // truncated mean and inverse
    "x200_hill" ->
      """WITH pu AS (SELECT CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |top0 AS (SELECT v FROM pu WHERE v > 0 ORDER BY v DESC LIMIT 51),
        |top AS (SELECT v,
        |    CAST(round(ln(CAST(v AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |      AS l,
        |    row_number() OVER (ORDER BY v DESC) AS rk
        |  FROM top0),
        |ref AS (SELECT v AS x_k1, l AS l_k1 FROM top WHERE rk = 51),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_top,
        |    CAST(sum(l) AS BIGINT) AS lsum FROM top WHERE rk <= 50),
        |st AS (SELECT CAST(50 AS BIGINT) AS k, x_k1,
        |    CASE WHEN n_top < 50 THEN NULL
        |      ELSE (lsum - 50 * l_k1) // 50 END AS hill_inv_micros
        |  FROM ag, ref)
        |SELECT k, x_k1, hill_inv_micros,
        |  CASE WHEN hill_inv_micros IS NULL OR hill_inv_micros <= 0
        |    THEN NULL
        |    ELSE 1000000000000 // hill_inv_micros END AS alpha_micros
        |FROM st""".stripMargin,
    // Cochran–Armitage replay: score-grain margins, the chained
    // truncated divisions in HUGEINT
    "x201_cochran_armitage" ->
      """WITH b AS (SELECT least(9, n_chars // 100) AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |per AS (SELECT s, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(f) AS BIGINT) AS k_g FROM b GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn,
        |    CAST(sum(k_g) AS BIGINT) AS kk,
        |    CAST(count(*) AS BIGINT) AS n_groups FROM per),
        |ag AS (SELECT sum(CAST(s AS HUGEINT)
        |      * (CAST(k_g AS HUGEINT) * nn - CAST(n_g AS HUGEINT) * kk))
        |      AS t_prime,
        |    sum(CAST(n_g AS HUGEINT) * s * s) AS ns2,
        |    sum(CAST(n_g AS HUGEINT) * s) AS ns
        |  FROM per, tt)
        |SELECT nn AS n, kk AS k_pos, n_groups,
        |  CAST(t_prime AS BIGINT) AS t_prime,
        |  CASE WHEN kk = 0 OR kk = nn
        |      OR CAST(nn AS HUGEINT) * ns2 - ns * ns = 0 THEN NULL
        |    ELSE CAST(((1000000 * t_prime * t_prime)
        |      // (CAST(kk AS HUGEINT) * (nn - kk))
        |      * (CAST(nn AS HUGEINT) * (nn - 1)))
        |      // (CAST(nn AS HUGEINT) * ns2 - ns * ns) AS BIGINT)
        |  END AS z_sq_micros
        |FROM ag, tt""".stripMargin,
    // Durbin–Watson replay: the shared daily CTE, lag deltas, the
    // cross-multiplied exact form
    "x202_durbin_watson" ->
      """WITH e AS (SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        |  FROM events WHERE ts IS NOT NULL),
        |lo AS (SELECT min(ms) AS lo FROM e),
        |daily AS (SELECT (ms - lo) // 86400000 AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM e, lo GROUP BY 1),
        |lg AS (SELECT v, v - lag(v) OVER (ORDER BY day) AS dv
        |  FROM daily),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sv,
        |    sum(CAST(dv AS HUGEINT) * dv) AS sd2,
        |    sum(CAST(v AS HUGEINT) * v) AS sv2
        |  FROM lg)
        |SELECT n,
        |  CASE WHEN n = 0 THEN NULL
        |    ELSE CAST((1000000 * CAST(sv AS HUGEINT)) // n AS BIGINT)
        |  END AS mean_micros,
        |  CASE WHEN CAST(n AS HUGEINT) * sv2
        |      - CAST(sv AS HUGEINT) * sv <= 0 THEN NULL
        |    ELSE CAST((1000000 * CAST(n AS HUGEINT) * coalesce(sd2, 0))
        |      // (CAST(n AS HUGEINT) * sv2 - CAST(sv AS HUGEINT) * sv)
        |      AS BIGINT)
        |  END AS dw_micros
        |FROM ag""".stripMargin,
    // G-test replay: observed cells only, the identical IEEE log-ratio
    // sequence quantized once per cell, signed per-source terms
    "x203_gtest" ->
      """WITH b AS (SELECT CAST(source AS VARCHAR) AS src,
        |    CAST(lang AS VARCHAR) AS cat
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL),
        |cell AS (SELECT src, cat, CAST(count(*) AS BIGINT) AS o
        |  FROM b GROUP BY 1, 2),
        |ns AS (SELECT src, CAST(sum(o) AS BIGINT) AS n_s
        |  FROM cell GROUP BY 1),
        |nc AS (SELECT cat, CAST(sum(o) AS BIGINT) AS n_c
        |  FROM cell GROUP BY 1),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |    CAST(count(DISTINCT src) AS BIGINT) AS n_srcs,
        |    CAST(count(DISTINCT cat) AS BIGINT) AS n_cats FROM cell),
        |tm AS (SELECT src, n_s, n_srcs, n_cats,
        |    2 * o * CAST(round(ln(((CAST(o AS DOUBLE) * nn) / n_s)
        |      / n_c) * 1000000.0, 0) AS BIGINT) AS t
        |  FROM cell JOIN ns USING (src) JOIN nc USING (cat), tt),
        |ps AS (SELECT src AS source, any_value(n_s) AS n_docs,
        |    (any_value(n_srcs) - 1) * (any_value(n_cats) - 1) AS dof,
        |    CAST(sum(t) AS BIGINT) AS g_term_micros
        |  FROM tm GROUP BY 1),
        |ov AS (SELECT CAST(sum(g_term_micros) AS BIGINT) AS g_micros
        |  FROM ps)
        |SELECT source, n_docs, dof, g_term_micros, g_micros
        |FROM ps, ov ORDER BY source""".stripMargin,
    // Gini replay: ascending (mass, group) rank, exact rank-weighted
    // numerator, truncated Lorenz shares
    "x197_gini" ->
      """WITH per AS (SELECT CAST(source AS VARCHAR) AS grp,
        |    CAST(count(*) AS BIGINT) AS mass
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |rk AS (SELECT grp, mass,
        |    row_number() OVER (ORDER BY mass, grp) AS rank,
        |    CAST(sum(mass) OVER (ORDER BY mass, grp ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_mass
        |  FROM per),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(mass) AS BIGINT) AS s,
        |    sum(CAST(rank AS HUGEINT) * mass) AS rx
        |  FROM rk)
        |SELECT grp, mass, rank,
        |  CAST((1000000 * cum_mass) // s AS BIGINT) AS lorenz_micros,
        |  CASE WHEN s = 0 OR n = 0 THEN NULL
        |    ELSE CAST((1000000 * (2 * rx - (CAST(n AS HUGEINT) + 1) * s))
        |      // (CAST(n AS HUGEINT) * s) AS BIGINT)
        |  END AS gini_micros
        |FROM rk, tt ORDER BY rank""".stripMargin,
    // Chao-Shen replay: vocabulary-grain counts, the identical
    // coverage-shrink/ln/power chain per type, micro-rounded terms
    // summed exactly
    "x221_chao_shen" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(
        |      lower(text), ' '), t -> t <> '')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f1 FROM c),
        |h AS (SELECT
        |    coalesce(CAST(sum(CAST(round(1000000.0
        |      * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT), 0) AS neg_h_ml,
        |    coalesce(CAST(sum(CAST(round(1000000.0
        |      * ((1.0 - CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
        |      * ln((1.0 - CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
        |      / (1.0 - power(1.0 - (1.0 - CAST(f1 AS DOUBLE)
        |        / CAST(n AS DOUBLE)) * (CAST(c AS DOUBLE)
        |        / CAST(n AS DOUBLE)), CAST(n AS DOUBLE))))
        |      AS BIGINT)) AS BIGINT), 0) AS neg_h_cs
        |  FROM c, tot)
        |SELECT n AS n_tokens, v AS vocab, f1,
        |  (1000000 * (n - f1)) // n AS coverage_micros,
        |  -neg_h_ml AS h_ml_micros,
        |  CASE WHEN f1 = n THEN NULL ELSE -neg_h_cs END
        |    AS h_cs_micros
        |FROM tot, h""".stripMargin,
    // shingle-grain Chao-Shen replay: all 3-shingle occurrences (NOT
    // the dedup shelf's distinct sets), then the identical chains
    "x221b_chao_shen_shingles" ->
      """WITH toks AS (SELECT list_filter(string_split(lower(text),
        |      ' '), t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT unnest(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS w
        |  FROM toks),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f1 FROM c),
        |h AS (SELECT
        |    coalesce(CAST(sum(CAST(round(1000000.0
        |      * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT), 0) AS neg_h_ml,
        |    coalesce(CAST(sum(CAST(round(1000000.0
        |      * ((1.0 - CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
        |      * ln((1.0 - CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
        |      / (1.0 - power(1.0 - (1.0 - CAST(f1 AS DOUBLE)
        |        / CAST(n AS DOUBLE)) * (CAST(c AS DOUBLE)
        |        / CAST(n AS DOUBLE)), CAST(n AS DOUBLE))))
        |      AS BIGINT)) AS BIGINT), 0) AS neg_h_cs
        |  FROM c, tot)
        |SELECT n AS n_tokens, v AS vocab, f1,
        |  (1000000 * (n - f1)) // n AS coverage_micros,
        |  -neg_h_ml AS h_ml_micros,
        |  CASE WHEN f1 = n THEN NULL ELSE -neg_h_cs END
        |    AS h_cs_micros
        |FROM tot, h""".stripMargin,
    // jackknife replay: exact leave-one-out replicates off group
    // aggregates, cross-multiplied variance, one floored IEEE sqrt
    "x219_jackknife" ->
      """WITH per AS (SELECT source AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS gg,
        |    CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(pos) AS BIGINT) AS post FROM per),
        |reps AS (SELECT grp, n, pos,
        |    (1000000 * post) // nt AS theta_full_micros,
        |    CASE WHEN nt = n THEN NULL
        |      ELSE (1000000 * (post - pos)) // (nt - n) END
        |      AS theta_loo_micros
        |  FROM per, tot),
        |se AS (SELECT CAST(count(*) AS BIGINT) AS g2,
        |    CAST(sum(theta_loo_micros) AS BIGINT) AS s,
        |    sum(CAST(theta_loo_micros AS HUGEINT) * theta_loo_micros)
        |      AS s2
        |  FROM reps WHERE theta_loo_micros IS NOT NULL),
        |sev AS (SELECT CASE WHEN g2 < 2 THEN NULL
        |    ELSE CAST(floor(sqrt(CAST((CAST(g2 AS HUGEINT) - 1)
        |      * (CAST(g2 AS HUGEINT) * s2 - CAST(s AS HUGEINT) * s)
        |      AS DOUBLE) / (CAST(g2 AS DOUBLE) * CAST(g2 AS DOUBLE))))
        |      AS BIGINT) END AS jk_se_micros FROM se)
        |SELECT grp, n, pos, theta_full_micros, theta_loo_micros,
        |  CASE WHEN theta_loo_micros IS NULL THEN NULL
        |    ELSE theta_full_micros - theta_loo_micros END
        |    AS influence_micros,
        |  jk_se_micros
        |FROM reps, sev ORDER BY grp""".stripMargin,
    // TOST replay: exact micro rates, one floored Wald-SE IEEE chain,
    // sign-explicit z truncations, the 1.644854 micro threshold
    "x220_tost" ->
      """WITH per AS (SELECT (doc_id % 2 = 0) AS arm_a,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1),
        |w AS (SELECT arm_a, n, pos, (1000000 * pos) // n AS p FROM per),
        |a AS (SELECT n AS n1, pos AS pos1, p AS p1 FROM w WHERE arm_a),
        |b AS (SELECT n AS n2, pos AS pos2, p AS p2 FROM w
        |  WHERE NOT arm_a),
        |j AS (SELECT n1, pos1, n2, pos2, p1, p2,
        |    CAST(floor(1000000.0 * sqrt((CAST(p1 AS DOUBLE)
        |      / 1000000.0) * (1.0 - CAST(p1 AS DOUBLE) / 1000000.0)
        |      / CAST(n1 AS DOUBLE) + (CAST(p2 AS DOUBLE) / 1000000.0)
        |      * (1.0 - CAST(p2 AS DOUBLE) / 1000000.0)
        |      / CAST(n2 AS DOUBLE))) AS BIGINT) AS se_micros
        |  FROM a, b),
        |z AS (SELECT n1, pos1, n2, pos2, p1, p2, se_micros,
        |    CASE WHEN se_micros <= 0 THEN NULL
        |      ELSE CAST(sign(p1 - p2 + 20000)
        |        * ((1000000 * abs(p1 - p2 + 20000)) // se_micros)
        |        AS BIGINT) END AS zl,
        |    CASE WHEN se_micros <= 0 THEN NULL
        |      ELSE CAST(sign(20000 - (p1 - p2))
        |        * ((1000000 * abs(20000 - (p1 - p2))) // se_micros)
        |        AS BIGINT) END AS zu
        |  FROM j)
        |SELECT n1, pos1, n2, pos2, p1 AS p1_micros, p2 AS p2_micros,
        |  p1 - p2 AS diff_micros, se_micros,
        |  zl AS z_lower_micros, zu AS z_upper_micros,
        |  CASE WHEN zl IS NULL THEN NULL
        |    ELSE zl > 1644854 AND zu > 1644854 END AS equivalent_90
        |FROM z""".stripMargin,
    // JT replay: the zero-filled group×value grid, per-group
    // cumulative below-v counts, value-grain pair join, the
    // three-term tie-corrected variance in HUGEINT
    "x215_jonckheere" ->
      """WITH base AS (SELECT (epoch_ms(CAST(ts AS TIMESTAMP))
        |      // 3600000) % 24 AS g, CAST(length(props) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND props IS NOT NULL),
        |bygv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |grp AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM bygv
        |  GROUP BY 1),
        |vals AS (SELECT DISTINCT v FROM bygv),
        |grid AS (SELECT gg.g, vals.v, coalesce(b.c, 0) AS c0
        |  FROM grp gg CROSS JOIN vals
        |  LEFT JOIN bygv b ON b.g = gg.g AND b.v = vals.v),
        |cum AS (SELECT g, v, c0, coalesce(sum(c0) OVER (
        |    PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS lt FROM grid),
        |uu AS (SELECT coalesce(sum(CAST(b.c0 AS HUGEINT)
        |      * (2 * a.lt + a.c0)), 0) AS u2
        |  FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g),
        |ee AS (SELECT coalesce(sum(CAST(a.n_g AS HUGEINT) * b.n_g), 0)
        |    AS e2 FROM grp a JOIN grp b ON a.g < b.g),
        |gs AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n_g) AS BIGINT) AS nn,
        |    coalesce(sum(CAST(n_g AS HUGEINT) * (n_g - 1)
        |      * (2 * n_g + 5)), 0) AS g1,
        |    coalesce(sum(CAST(n_g AS HUGEINT) * (n_g - 1)
        |      * (n_g - 2)), 0) AS g2,
        |    coalesce(sum(CAST(n_g AS HUGEINT) * (n_g - 1)), 0) AS g3
        |  FROM grp),
        |tsv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM bygv
        |  GROUP BY 1),
        |tsum AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1)
        |      * (2 * t + 5)), 0) AS t1,
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)), 0)
        |      AS t2,
        |    coalesce(sum(CAST(t AS HUGEINT) * (t - 1)), 0) AS t3
        |  FROM tsv),
        |vr AS (SELECT nn, k, CASE WHEN nn < 3 OR k < 2 THEN NULL
        |    ELSE CAST((1000000 * (CAST(nn AS HUGEINT) * (nn - 1)
        |      * (2 * nn + 5) - g1 - t1)) // 72
        |      + (1000000 * g2 * t2) // (36 * CAST(nn AS HUGEINT)
        |        * (nn - 1) * (nn - 2))
        |      + (1000000 * g3 * t3) // (8 * CAST(nn AS HUGEINT)
        |        * (nn - 1)) AS BIGINT) END AS var_micros
        |  FROM gs, tsum)
        |SELECT nn AS n, k AS n_groups, CAST(u2 AS BIGINT) AS u2,
        |  CAST(e2 AS BIGINT) AS e2, var_micros,
        |  CASE WHEN var_micros IS NULL OR var_micros <= 0 THEN NULL
        |    ELSE CAST((1000000000000 * (CAST(u2 - e2 AS HUGEINT)
        |      * (u2 - e2))) // (4 * CAST(var_micros AS HUGEINT))
        |      AS BIGINT) END AS z_sq_micros
        |FROM vr, uu, ee""".stripMargin,
    // Monroe replay: vocabulary-grain counts, the identical per-term
    // IEEE prior/ln-odds/sqrt chain, |z|-desc term-asc top-25
    "x216_monroe_logodds" ->
      """WITH tok AS (SELECT (lang = 'en') AS fa,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      t -> t <> '')) AS w
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        |c AS (SELECT w,
        |    CAST(sum(CASE WHEN fa THEN 1 ELSE 0 END) AS BIGINT) AS ya,
        |    CAST(sum(CASE WHEN NOT fa THEN 1 ELSE 0 END) AS BIGINT)
        |      AS yb
        |  FROM tok GROUP BY 1),
        |tt AS (SELECT CAST(sum(ya) AS BIGINT) AS na,
        |    CAST(sum(yb) AS BIGINT) AS nb FROM c),
        |z AS (SELECT w, ya, yb, na, nb,
        |    1000.0 * (CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE))
        |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS aw
        |  FROM c, tt),
        |f AS (SELECT * FROM z
        |  WHERE CAST(na AS DOUBLE) + 1000.0 - CAST(ya AS DOUBLE) - aw
        |      > 0.0
        |    AND CAST(nb AS DOUBLE) + 1000.0 - CAST(yb AS DOUBLE) - aw
        |      > 0.0)
        |SELECT w AS term, ya AS y_a, yb AS y_b,
        |  CAST(round(1000000.0 * (ln((CAST(ya AS DOUBLE) + aw)
        |    / (CAST(na AS DOUBLE) + 1000.0 - CAST(ya AS DOUBLE) - aw))
        |    - ln((CAST(yb AS DOUBLE) + aw)
        |    / (CAST(nb AS DOUBLE) + 1000.0 - CAST(yb AS DOUBLE)
        |      - aw)))) AS BIGINT) AS delta_micros,
        |  CAST(round(1000000.0 * (ln((CAST(ya AS DOUBLE) + aw)
        |    / (CAST(na AS DOUBLE) + 1000.0 - CAST(ya AS DOUBLE) - aw))
        |    - ln((CAST(yb AS DOUBLE) + aw)
        |    / (CAST(nb AS DOUBLE) + 1000.0 - CAST(yb AS DOUBLE) - aw)))
        |    / sqrt(1.0 / (CAST(ya AS DOUBLE) + aw)
        |      + 1.0 / (CAST(yb AS DOUBLE) + aw))) AS BIGINT)
        |    AS z_micros
        |FROM f ORDER BY abs(z_micros) DESC, term LIMIT 25""".stripMargin,
    // Cohen's h replay: exact micro rates, one asin-sqrt IEEE chain
    // per group against the complement
    "x217_cohens_h" ->
      """WITH per AS (SELECT source AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(pos) AS BIGINT) AS post FROM per)
        |SELECT grp, n, pos, (1000000 * pos) // n AS p_micros,
        |  CASE WHEN nt = n THEN NULL
        |    ELSE (1000000 * (post - pos)) // (nt - n) END
        |    AS p_rest_micros,
        |  CASE WHEN nt = n THEN NULL
        |    ELSE CAST(round(1000000.0 * (2.0 * asin(sqrt(
        |      CAST((1000000 * pos) // n AS DOUBLE) / 1000000.0))
        |      - 2.0 * asin(sqrt(CAST((1000000 * (post - pos))
        |        // (nt - n) AS DOUBLE) / 1000000.0)))) AS BIGINT) END
        |    AS cohens_h_micros
        |FROM per, tot ORDER BY grp""".stripMargin,
    // Page replay: the x178 min/max thirds split, the x181 doubled-
    // midrank CTE verbatim at k = 3, exact L/E and one truncated z²
    "x218_page_trend" ->
      """WITH e AS (SELECT user_id,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |bd AS (SELECT min(ms) AS lo, max(ms) AS hi FROM e),
        |blk AS (SELECT user_id,
        |    CAST(sum(CASE WHEN least(2, ((ms - lo) * 3)
        |      // (hi - lo + 1)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |    CAST(sum(CASE WHEN least(2, ((ms - lo) * 3)
        |      // (hi - lo + 1)) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN least(2, ((ms - lo) * 3)
        |      // (hi - lo + 1)) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM e, bd GROUP BY 1),
        |rk AS (SELECT
        |    2 * ((CASE WHEN v1 < v0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v2 < v0 THEN 1 ELSE 0 END))
        |      + (CASE WHEN v1 = v0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v2 = v0 THEN 1 ELSE 0 END) + 2 AS r0,
        |    2 * ((CASE WHEN v0 < v1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v2 < v1 THEN 1 ELSE 0 END))
        |      + (CASE WHEN v0 = v1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v2 = v1 THEN 1 ELSE 0 END) + 2 AS r1,
        |    2 * ((CASE WHEN v0 < v2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v1 < v2 THEN 1 ELSE 0 END))
        |      + (CASE WHEN v0 = v2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN v1 = v2 THEN 1 ELSE 0 END) + 2 AS r2,
        |    (CASE WHEN v0 = v1 THEN 1 ELSE 0 END
        |      + CASE WHEN v0 = v2 THEN 1 ELSE 0 END
        |      + CASE WHEN v1 = v2 THEN 1 ELSE 0 END) AS eqp
        |  FROM blk),
        |rk2 AS (SELECT r0, r1, r2,
        |    CASE eqp WHEN 0 THEN 0 WHEN 1 THEN 6 ELSE 24 END AS tb
        |  FROM rk),
        |sm AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(tb) AS BIGINT) AS t,
        |    CAST(sum(r0) AS BIGINT) AS s0,
        |    CAST(sum(r1) AS BIGINT) AS s1,
        |    CAST(sum(r2) AS BIGINT) AS s2
        |  FROM rk2)
        |SELECT n AS n_blocks, CAST(3 AS BIGINT) AS k, t AS tie_sum,
        |  CAST(1 * CAST(s0 AS HUGEINT) + 2 * s1 + 3 * s2 AS BIGINT)
        |    AS l2,
        |  CAST(CAST(n AS HUGEINT) * 24 AS BIGINT) AS e2,
        |  CASE WHEN n = 0 THEN NULL
        |    ELSE CAST((36000000 * ((1 * CAST(s0 AS HUGEINT) + 2 * s1
        |      + 3 * s2 - CAST(n AS HUGEINT) * 24))
        |      * ((1 * CAST(s0 AS HUGEINT) + 2 * s1 + 3 * s2
        |      - CAST(n AS HUGEINT) * 24)))
        |      // (CAST(n AS HUGEINT) * 288) AS BIGINT) END
        |    AS z_sq_micros
        |FROM sm""".stripMargin,
    // Theil replay: cell-grain counts, per-term micro-rounded IEEE
    // ln chains at value and group grain, exact integer sums, within
    // by the decomposition identity
    "x209_theil" ->
      """WITH per AS (SELECT source AS grp, n_chars AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE source IS NOT NULL
        |    AND n_chars IS NOT NULL AND n_chars > 0 GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    sum(CAST(c AS HUGEINT) * v) AS s FROM per),
        |pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS c FROM per
        |  GROUP BY 1),
        |tt AS (SELECT coalesce(CAST(sum(CAST(round(1000000.0
        |      * (CAST(c AS DOUBLE) * CAST(v AS DOUBLE)
        |        / CAST(s AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) * CAST(v AS DOUBLE)
        |        / CAST(s AS DOUBLE))) AS BIGINT)) AS BIGINT), 0)
        |    AS t_total FROM pv, tot),
        |pg AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n_g,
        |    sum(CAST(c AS HUGEINT) * v) AS s_g FROM per GROUP BY 1),
        |bt AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    coalesce(CAST(sum(CAST(round(1000000.0
        |      * (CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
        |      * ln((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
        |        * (CAST(n AS DOUBLE) / CAST(n_g AS DOUBLE))))
        |      AS BIGINT)) AS BIGINT), 0) AS t_between FROM pg, tot)
        |SELECT n, n_groups,
        |  CASE WHEN s <= 0 THEN NULL ELSE t_total END
        |    AS theil_total_micros,
        |  CASE WHEN s <= 0 THEN NULL ELSE t_between END
        |    AS theil_between_micros,
        |  CASE WHEN s <= 0 THEN NULL ELSE t_total - t_between END
        |    AS theil_within_micros
        |FROM tot, tt, bt""".stripMargin,
    // Bowker replay: the x89 transition CTE, full-outer symmetric
    // pairing of the count matrix, per-pair truncated micro terms
    "x210_bowker" ->
      """WITH seq AS (SELECT user_id, event_type AS ty,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND ts IS NOT NULL),
        |m AS (SELECT prev AS i, ty AS j, CAST(count(*) AS BIGINT) AS c
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT coalesce(x.i, y.j) AS i, coalesce(x.j, y.i) AS j,
        |    coalesce(x.c, 0) AS nij, coalesce(y.c, 0) AS nji
        |  FROM m x FULL OUTER JOIN m y ON x.i = y.j AND x.j = y.i),
        |f AS (SELECT * FROM p WHERE i < j)
        |SELECT coalesce(CAST(sum(nij + nji) AS BIGINT), 0)
        |    AS n_offdiag,
        |  CAST(count(*) AS BIGINT) AS df,
        |  CASE WHEN count(*) = 0 THEN NULL
        |    ELSE CAST(sum((1000000 * CAST(nij - nji AS HUGEINT)
        |      * (nij - nji)) // (nij + nji)) AS BIGINT) END
        |    AS bowker_chi2_micros
        |FROM f""".stripMargin,
    // Hill replay: group mass, exact q0/q2, micro-rounded Shannon
    // terms summed exactly, one IEEE exp/ln each for q1/evenness
    "x211_hill_diversity" ->
      """WITH per AS (SELECT source AS grp,
        |    sum(CAST(n_chars AS HUGEINT)) AS s_g
        |  FROM documents WHERE source IS NOT NULL
        |    AND n_chars IS NOT NULL AND n_chars > 0 GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k, sum(s_g) AS s,
        |    sum(s_g * s_g) AS s2 FROM per),
        |h AS (SELECT coalesce(CAST(sum(CAST(round(1000000.0
        |      * (CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
        |      * ln(CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE)))
        |      AS BIGINT)) AS BIGINT), 0) AS neg_h FROM per, tot)
        |SELECT k AS q0, -neg_h AS shannon_micros,
        |  CAST(round(1000000.0 * exp(CAST(-neg_h AS DOUBLE)
        |    / 1000000.0)) AS BIGINT) AS hill_q1_micros,
        |  CASE WHEN s2 <= 0 THEN NULL
        |    ELSE CAST((1000000 * s * s) // s2 AS BIGINT) END
        |    AS hill_q2_micros,
        |  CASE WHEN k < 2 THEN NULL
        |    ELSE CAST(round(1000000.0 * (CAST(-neg_h AS DOUBLE)
        |      / 1000000.0) / ln(CAST(k AS DOUBLE))) AS BIGINT) END
        |    AS evenness_micros
        |FROM tot, h""".stripMargin,
    // Bland-Altman replay: integer differences, sign-explicit bias
    // truncation, exact variance numerator + one IEEE sqrt, integer
    // LoA bounds and the outside counts off the same difference CTE
    "x212_bland_altman" ->
      """WITH b AS (SELECT CAST(n_chars AS BIGINT)
        |    - 5 * len(list_filter(string_split(text, ' '),
        |        t -> t <> '')) AS d
        |  FROM documents WHERE text IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(d AS HUGEINT)) AS sd_sum,
        |    sum(CAST(d AS HUGEINT) * d) AS sq FROM b),
        |s2 AS (SELECT n,
        |    CAST(sign(sd_sum) * ((1000000 * abs(sd_sum)) // n)
        |      AS BIGINT) AS bias_micros,
        |    CASE WHEN n < 2 THEN NULL
        |      ELSE CAST(floor(1000000.0 * sqrt(CAST(n * sq
        |        - sd_sum * sd_sum AS DOUBLE) / (CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - 1.0)))) AS BIGINT) END
        |      AS sd_micros FROM st),
        |s3 AS (SELECT n, bias_micros, sd_micros,
        |    CASE WHEN sd_micros IS NULL THEN NULL
        |      ELSE bias_micros - CAST(round(1.96 * sd_micros)
        |        AS BIGINT) END AS loa_lo_micros,
        |    CASE WHEN sd_micros IS NULL THEN NULL
        |      ELSE bias_micros + CAST(round(1.96 * sd_micros)
        |        AS BIGINT) END AS loa_hi_micros FROM s2)
        |SELECT n, bias_micros, sd_micros, loa_lo_micros,
        |  loa_hi_micros,
        |  CAST(coalesce(sum(CASE WHEN loa_lo_micros IS NOT NULL
        |    AND 1000000 * d < loa_lo_micros THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_below,
        |  CAST(coalesce(sum(CASE WHEN loa_hi_micros IS NOT NULL
        |    AND 1000000 * d > loa_hi_micros THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_above
        |FROM b, s3 GROUP BY 1, 2, 3, 4, 5""".stripMargin,
    // Newcombe replay: the x125 Wilson chain per arm (both bounds,
    // floored), integer micro deltas under two floored IEEE sqrts
    "x213_newcombe" ->
      """WITH per AS (SELECT (doc_id % 2 = 0) AS arm_a,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM documents WHERE doc_id IS NOT NULL
        |    AND lang IS NOT NULL GROUP BY 1),
        |w AS (SELECT arm_a, n, pos, (1000000 * pos) // n AS p,
        |    CAST(floor(1000000.0 * (((CAST(pos AS DOUBLE)
        |      + 1.96*1.96/2.0) / CAST(n AS DOUBLE)
        |      - (1.96 / CAST(n AS DOUBLE))
        |      * sqrt(CAST(pos AS DOUBLE) * (CAST(n AS DOUBLE)
        |        - CAST(pos AS DOUBLE)) / CAST(n AS DOUBLE)
        |        + 1.96*1.96/4.0)) / (1.0 + 1.96*1.96
        |      / CAST(n AS DOUBLE)))) AS BIGINT) AS wl,
        |    CAST(floor(1000000.0 * (((CAST(pos AS DOUBLE)
        |      + 1.96*1.96/2.0) / CAST(n AS DOUBLE)
        |      + (1.96 / CAST(n AS DOUBLE))
        |      * sqrt(CAST(pos AS DOUBLE) * (CAST(n AS DOUBLE)
        |        - CAST(pos AS DOUBLE)) / CAST(n AS DOUBLE)
        |        + 1.96*1.96/4.0)) / (1.0 + 1.96*1.96
        |      / CAST(n AS DOUBLE)))) AS BIGINT) AS wu
        |  FROM per),
        |a AS (SELECT n AS n1, pos AS pos1, p AS p1, wl AS l1,
        |    wu AS u1 FROM w WHERE arm_a),
        |b AS (SELECT n AS n2, pos AS pos2, p AS p2, wl AS l2,
        |    wu AS u2 FROM w WHERE NOT arm_a)
        |SELECT n1, pos1, n2, pos2, p1 AS p1_micros, p2 AS p2_micros,
        |  p1 - p2 AS diff_micros,
        |  p1 - p2 - CAST(floor(sqrt(CAST((p1 - l1) * (p1 - l1)
        |    + (u2 - p2) * (u2 - p2) AS DOUBLE))) AS BIGINT)
        |    AS ci_lo_micros,
        |  p1 - p2 + CAST(floor(sqrt(CAST((u1 - p1) * (u1 - p1)
        |    + (p2 - l2) * (p2 - l2) AS DOUBLE))) AS BIGINT)
        |    AS ci_hi_micros
        |FROM a, b""".stripMargin,
    // power replay: exact micro rates, the one written-out IEEE
    // chain per source with shortest-round-trip z literals
    "x214_power" ->
      """WITH per AS (SELECT source AS grp,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM documents WHERE source IS NOT NULL
        |    AND lang IS NOT NULL GROUP BY 1),
        |r AS (SELECT grp, n, pos, (1000000 * pos) // n AS p_micros,
        |    ((1000 + 100) * ((1000000 * pos) // n)) // 1000
        |      AS p2_micros FROM per)
        |SELECT grp, n, pos, p_micros, p2_micros,
        |  CASE WHEN pos = 0 OR p2_micros >= 1000000
        |      OR p2_micros = p_micros THEN NULL
        |    ELSE CAST(ceil((1.959963984540054 * sqrt(2.0
        |      * ((CAST(p_micros AS DOUBLE) + CAST(p2_micros AS DOUBLE))
        |        / 2000000.0) * (1.0 - (CAST(p_micros AS DOUBLE)
        |        + CAST(p2_micros AS DOUBLE)) / 2000000.0))
        |      + 0.8416212335729143 * sqrt((CAST(p_micros AS DOUBLE)
        |        / 1000000.0) * (1.0 - CAST(p_micros AS DOUBLE)
        |        / 1000000.0) + (CAST(p2_micros AS DOUBLE) / 1000000.0)
        |        * (1.0 - CAST(p2_micros AS DOUBLE) / 1000000.0)))
        |      * (1.959963984540054 * sqrt(2.0
        |      * ((CAST(p_micros AS DOUBLE) + CAST(p2_micros AS DOUBLE))
        |        / 2000000.0) * (1.0 - (CAST(p_micros AS DOUBLE)
        |        + CAST(p2_micros AS DOUBLE)) / 2000000.0))
        |      + 0.8416212335729143 * sqrt((CAST(p_micros AS DOUBLE)
        |        / 1000000.0) * (1.0 - CAST(p_micros AS DOUBLE)
        |        / 1000000.0) + (CAST(p2_micros AS DOUBLE) / 1000000.0)
        |        * (1.0 - CAST(p2_micros AS DOUBLE) / 1000000.0)))
        |      / ((CAST(p2_micros AS DOUBLE) - CAST(p_micros AS DOUBLE))
        |        / 1000000.0 * (CAST(p2_micros AS DOUBLE)
        |        - CAST(p_micros AS DOUBLE)) / 1000000.0)) AS BIGINT)
        |    END AS n_required_per_arm
        |FROM r ORDER BY grp""".stripMargin,
    // permutation replay: the same sha256(id:b) ranking per
    // relabeling, cross-multiplied two-sided extremeness, add-one p̃
    "x198_perm_test" ->
      """WITH b AS (SELECT CAST(doc_id AS VARCHAR) AS id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
        |    n_chars AS v
        |  FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(v) AS BIGINT) AS s,
        |    CAST(sum(ia * v) AS BIGINT) AS obs_sum
        |  FROM b),
        |ex AS (SELECT id, v, pb,
        |    sha256(concat(id, ':', CAST(pb AS VARCHAR))) AS h
        |  FROM b, generate_series(0, 39) AS g(pb)),
        |rkd AS (SELECT pb, v, row_number() OVER (PARTITION BY pb
        |    ORDER BY h, id) AS rk FROM ex),
        |st AS (SELECT pb, CAST(sum(v) AS BIGINT) AS stat
        |  FROM rkd, obs WHERE rk <= n_a GROUP BY 1),
        |xt AS (SELECT CAST(sum(CASE WHEN
        |      abs(CAST(n AS HUGEINT) * stat - CAST(n_a AS HUGEINT) * s)
        |      >= abs(CAST(n AS HUGEINT) * obs_sum
        |        - CAST(n_a AS HUGEINT) * s) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_extreme
        |  FROM st, obs)
        |SELECT n, n_a, s AS total_sum, obs_sum,
        |  CAST(40 AS BIGINT) AS n_perms, n_extreme,
        |  (1000000 * (1 + n_extreme)) // 41 AS p_two_sided_micros
        |FROM obs, xt""".stripMargin,
    // Mann–Kendall replay: the shared daily CTE, the points-squared
    // pair sum, tie-corrected Var·18, continuity-corrected z²
    "x190_mann_kendall" ->
      """WITH e AS (SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        |  FROM events WHERE ts IS NOT NULL),
        |lo AS (SELECT min(ms) AS lo FROM e),
        |daily AS (SELECT (ms - lo) // 86400000 AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM e, lo GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |sp AS (SELECT coalesce(CAST(sum(sign(q.v - p.v)) AS BIGINT), 0)
        |    AS s
        |  FROM daily p JOIN daily q ON q.day > p.day),
        |tie AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1)
        |      * (2 * t + 5)), 0) AS tie_term
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM daily GROUP BY v)),
        |st AS (SELECT n, s,
        |    CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tie_term
        |      AS var18
        |  FROM nn, sp, tie)
        |SELECT n, s, CAST(var18 AS BIGINT) AS var_s_x18,
        |  CASE WHEN n < 2 THEN NULL
        |    ELSE CAST(sign(s) * ((2000000 * abs(s))
        |      // (CAST(n AS HUGEINT) * (n - 1))) AS BIGINT)
        |  END AS tau_a_micros,
        |  CASE WHEN var18 <= 0 THEN NULL
        |    WHEN s = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((18000000 * (CAST(abs(s) AS HUGEINT) - 1)
        |      * (CAST(abs(s) AS HUGEINT) - 1)) // var18 AS BIGINT)
        |  END AS z_sq_micros
        |FROM st""".stripMargin,
    // Youden replay: descending distinct-score cumulative confusion,
    // truncated rates, deterministic (J desc, threshold asc) argmax
    "x192_youden_j" ->
      """WITH b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END
        |      AS pos, n_chars AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |byv AS (SELECT v, CAST(sum(pos) AS BIGINT) AS p,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1),
        |tt AS (SELECT CAST(sum(p) AS BIGINT) AS pp,
        |    CAST(sum(c - p) AS BIGINT) AS nn FROM byv),
        |sc AS (SELECT v,
        |    CAST(sum(p) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |    CAST(sum(c - p) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
        |  FROM byv),
        |j AS (SELECT v, tp, fp, pp, nn,
        |    CASE WHEN pp = 0 OR nn = 0 THEN NULL
        |      ELSE CAST((1000000 * tp) // pp AS BIGINT)
        |    END AS tpr_micros,
        |    CASE WHEN pp = 0 OR nn = 0 THEN NULL
        |      ELSE CAST((1000000 * fp) // nn AS BIGINT)
        |    END AS fpr_micros
        |  FROM sc, tt),
        |j2 AS (SELECT *, tpr_micros - fpr_micros AS j_micros FROM j)
        |SELECT v AS threshold, tp, fp, pp - tp AS fn, nn - fp AS tn,
        |  tpr_micros, fpr_micros, j_micros
        |FROM j2 ORDER BY j_micros DESC NULLS LAST, v LIMIT 1""".stripMargin,
    // RBO replay: both TakeOrdered rankings, first-common-depth per
    // shared item, per-depth geometric terms truncated once
    "x193_rbo" ->
      """WITH la AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY n_chars DESC, doc_id) AS ra
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND n_chars IS NOT NULL
        |  QUALIFY ra <= 10),
        |lb AS (SELECT doc_id, row_number() OVER (
        |    ORDER BY len(list_filter(string_split(text, ' '),
        |      t -> t <> '')) DESC, doc_id) AS rb
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND n_chars IS NOT NULL
        |  QUALIFY rb <= 10),
        |j AS (SELECT greatest(ra, rb) AS fcd FROM la JOIN lb
        |  USING (doc_id)),
        |dep AS (SELECT d AS depth FROM generate_series(1, 10) AS g(d)),
        |ov AS (SELECT depth, CAST(count(fcd) AS BIGINT) AS overlap
        |  FROM dep LEFT JOIN j ON j.fcd <= dep.depth GROUP BY 1),
        |tm AS (SELECT depth, overlap,
        |    CAST((1000000 * CAST(round(power(9.0, depth - 1), 0)
        |      AS HUGEINT) * overlap)
        |      // (CAST(round(power(10.0, depth), 0) AS HUGEINT) * depth)
        |      AS BIGINT) AS term_micros
        |  FROM ov),
        |tot AS (SELECT CAST(sum(term_micros) AS BIGINT) AS rbo_micros
        |  FROM tm)
        |SELECT depth, overlap, term_micros, rbo_micros
        |FROM tm, tot ORDER BY depth""".stripMargin,
    // Holm/BY replay: x161's z²/p̃/rank CTEs, the truncated-harmonic
    // H̃_m, step-down first-failure and step-up last-success scans
    "x194_holm_by" ->
      """WITH b AS (
        |  SELECT CAST(source AS VARCHAR) AS slice,
        |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS f
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |per AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_s,
        |    CAST(sum(f) AS BIGINT) AS k_s
        |  FROM b GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn,
        |    CAST(sum(k_s) AS BIGINT) AS kk,
        |    CAST(count(*) AS BIGINT) AS m FROM per),
        |sc AS (
        |  SELECT slice, n_s, k_s, m,
        |    CASE WHEN kk = 0 OR kk = nn THEN NULL
        |      ELSE CAST((1000000
        |        * (CAST(k_s AS HUGEINT) * nn - CAST(n_s AS HUGEINT) * kk)
        |        * (CAST(k_s AS HUGEINT) * nn - CAST(n_s AS HUGEINT) * kk))
        |        // (CAST(n_s AS HUGEINT) * kk * (nn - kk)) AS BIGINT)
        |    END AS z_sq_micros
        |  FROM per, tt),
        |sc2 AS (SELECT *, CASE WHEN z_sq_micros IS NULL THEN NULL
        |    ELSE CAST(round(exp(-CAST(z_sq_micros AS DOUBLE) / 2e6)
        |      * 1000000.0, 0) AS BIGINT) END AS p_tilde_micros
        |  FROM sc),
        |rk AS (SELECT *, row_number() OVER (
        |    ORDER BY p_tilde_micros ASC NULLS LAST, slice) AS rank
        |  FROM sc2),
        |hm AS (SELECT CAST(sum(1000000 // rank) AS BIGINT)
        |    AS h_m_micros FROM rk),
        |th AS (SELECT rk.*,
        |    50000 // (m - rank + 1) AS holm_threshold_micros,
        |    CAST((rank * 50000 * 1000000)
        |      // (CAST(m AS HUGEINT) * h_m_micros) AS BIGINT)
        |      AS by_threshold_micros
        |  FROM rk, hm),
        |ff AS (SELECT coalesce(min(CASE WHEN p_tilde_micros IS NULL
        |      OR p_tilde_micros > holm_threshold_micros THEN rank END),
        |    9223372036854775807) AS first_fail FROM th),
        |ks AS (SELECT coalesce(max(CASE WHEN p_tilde_micros
        |    <= by_threshold_micros THEN rank END), 0) AS k_star_by
        |  FROM th)
        |SELECT slice, n_s, k_s, z_sq_micros, p_tilde_micros, rank,
        |  holm_threshold_micros, rank < first_fail AS rejected_holm,
        |  by_threshold_micros, rank <= k_star_by AS rejected_by
        |FROM th, ff, ks ORDER BY rank""".stripMargin,
    // Mood's-median replay: distinct-value cumulative lower median,
    // per-group above counts, both χ² cells off the shared squared
    // numerator, each truncated once in HUGEINT
    "x184_moods_median" ->
      """WITH b AS (SELECT CAST(source AS VARCHAR) AS grp, n_chars AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |byv AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM byv),
        |tt AS (SELECT coalesce(max(cum), 0) AS nn0 FROM cum),
        |med AS (SELECT min(v) AS med FROM cum, tt
        |  WHERE cum >= (nn0 + 1) // 2),
        |pg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT)
        |      AS o_above
        |  FROM b, med GROUP BY 1),
        |mg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(o_above) AS BIGINT) AS aa FROM pg),
        |tm AS (SELECT grp, n, o_above,
        |    CAST((1000000 * CAST(n AS HUGEINT) * aa) // nn AS BIGINT)
        |      AS e_above_micros,
        |    CASE WHEN aa = 0 OR aa = nn THEN NULL ELSE
        |      CAST((1000000 * (CAST(o_above AS HUGEINT) * nn
        |          - CAST(n AS HUGEINT) * aa)
        |        * (CAST(o_above AS HUGEINT) * nn
        |          - CAST(n AS HUGEINT) * aa))
        |        // (CAST(nn AS HUGEINT) * n * aa)
        |      + (1000000 * (CAST(o_above AS HUGEINT) * nn
        |          - CAST(n AS HUGEINT) * aa)
        |        * (CAST(o_above AS HUGEINT) * nn
        |          - CAST(n AS HUGEINT) * aa))
        |        // (CAST(nn AS HUGEINT) * n * (nn - aa)) AS BIGINT)
        |    END AS chi2_term_micros
        |  FROM pg, mg),
        |ov AS (SELECT CAST(sum(chi2_term_micros) AS BIGINT) AS chi2_micros,
        |    CAST(count(*) - 1 AS BIGINT) AS dof FROM tm)
        |SELECT grp, n, o_above, e_above_micros, chi2_term_micros,
        |  med AS pooled_median, chi2_micros, dof
        |FROM tm, ov, med ORDER BY grp""".stripMargin,
    // runs-test replay: min-anchored day buckets, the same cumulative
    // lower median, tie exclusion, lag-transition run count, E/Var/z²
    // each truncated once
    "x185_runs_test" ->
      """WITH e AS (SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
        |  FROM events WHERE ts IS NOT NULL),
        |lo AS (SELECT min(ms) AS lo FROM e),
        |daily AS (SELECT (ms - lo) // 86400000 AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM e, lo GROUP BY 1),
        |byv AS (SELECT v, CAST(count(*) AS BIGINT) AS c
        |  FROM daily GROUP BY 1),
        |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM byv),
        |tt AS (SELECT coalesce(max(cum), 0) AS nn0 FROM cum),
        |med AS (SELECT min(v) AS med FROM cum, tt
        |  WHERE cum >= (nn0 + 1) // 2),
        |sg AS (SELECT day, CASE WHEN v > med THEN 1 ELSE 0 END AS s
        |  FROM daily, med WHERE v <> med),
        |lg AS (SELECT s, lag(s) OVER (ORDER BY day) AS prev FROM sg),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(s) AS BIGINT) AS n_above,
        |    CAST(sum(1 - s) AS BIGINT) AS n_below,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0
        |      END) AS BIGINT) AS runs
        |  FROM lg),
        |st AS (SELECT n, n_above, n_below, runs,
        |    CASE WHEN n < 2 OR n_above = 0 OR n_below = 0 THEN NULL
        |      ELSE CAST(1000000 + (2000000 * CAST(n_above AS HUGEINT)
        |        * n_below) // n AS BIGINT) END AS e_runs_micros,
        |    CASE WHEN n < 2 OR n_above = 0 OR n_below = 0 THEN NULL
        |      ELSE CAST((1000000 * 2 * CAST(n_above AS HUGEINT) * n_below
        |        * (2 * CAST(n_above AS HUGEINT) * n_below - n))
        |        // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
        |    END AS var_runs_micros
        |  FROM ag)
        |SELECT n, n_above, n_below, runs, e_runs_micros, var_runs_micros,
        |  CASE WHEN var_runs_micros IS NULL OR var_runs_micros <= 0
        |    THEN NULL
        |    ELSE CAST(((1000000 * runs - e_runs_micros)
        |      * CAST(1000000 * runs - e_runs_micros AS HUGEINT))
        |      // var_runs_micros AS BIGINT) END AS z_sq_micros
        |FROM st""".stripMargin,
    // EMD replay: the full group×value grid, per-group CDFs truncated
    // once to micros, lead gaps, the |diff|·gap reduce per pair
    "x186_emd_pairs" ->
      """WITH b AS (SELECT CAST(source AS VARCHAR) AS grp, n_chars AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |cell AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |g AS (SELECT grp, CAST(sum(c) AS BIGINT) AS ng
        |  FROM cell GROUP BY 1),
        |vals AS (SELECT DISTINCT v FROM cell),
        |gaps AS (SELECT v, coalesce(lead(v) OVER (ORDER BY v) - v, 0)
        |    AS gap FROM vals),
        |grid0 AS (SELECT g.grp, va.v, g.ng FROM g CROSS JOIN vals va),
        |grid AS (SELECT grid0.grp, grid0.v, grid0.ng,
        |    coalesce(cell.c, 0) AS c
        |  FROM grid0 LEFT JOIN cell
        |    ON grid0.grp = cell.grp AND grid0.v = cell.v),
        |cdf AS (SELECT grp, v,
        |    CAST((1000000 * sum(c) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // ng
        |      AS BIGINT) AS cdf_micros
        |  FROM grid),
        |pair AS (SELECT a.grp AS grp_a, b2.grp AS grp_b,
        |    CAST(sum(abs(a.cdf_micros - b2.cdf_micros) * gp.gap)
        |      AS BIGINT) AS emd_micro_units
        |  FROM cdf a JOIN cdf b2 ON a.v = b2.v AND a.grp < b2.grp
        |  JOIN gaps gp ON a.v = gp.v
        |  GROUP BY 1, 2)
        |SELECT grp_a, grp_b, g1.ng AS n_a, g2.ng AS n_b, emd_micro_units
        |FROM pair JOIN g g1 ON grp_a = g1.grp JOIN g g2 ON grp_b = g2.grp
        |ORDER BY grp_a, grp_b""".stripMargin,
    // Cliff's-delta replay: x159's distinct-value prefix machinery, the
    // three pair counts in HUGEINT, sign-explicit truncated ratios
    "x187_cliffs_delta" ->
      """WITH b AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
        |    n_chars AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |byv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS a,
        |    CAST(sum(1 - ia) AS BIGINT) AS bb
        |  FROM b GROUP BY 1),
        |rk AS (SELECT v, a, bb,
        |    coalesce(sum(bb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM byv),
        |ag AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |    CAST(sum(bb) AS BIGINT) AS n_b,
        |    sum(CAST(a AS HUGEINT) * cumb) AS gt,
        |    sum(CAST(a AS HUGEINT) * bb) AS ties
        |  FROM rk),
        |st AS (SELECT n_a, n_b, gt, ties,
        |    CAST(n_a AS HUGEINT) * n_b - gt - ties AS lt FROM ag)
        |SELECT n_a, n_b, CAST(gt AS BIGINT) AS n_gt,
        |  CAST(lt AS BIGINT) AS n_lt, CAST(ties AS BIGINT) AS n_tie,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |    ELSE CAST(sign(gt - lt) * ((1000000 * abs(gt - lt))
        |      // (CAST(n_a AS HUGEINT) * n_b)) AS BIGINT)
        |  END AS delta_micros,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |    ELSE CAST((1000000 * (2 * gt + ties))
        |      // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |  END AS cles_micros
        |FROM st""".stripMargin,
    // ICC replay: milli quantization, per-item S²/n truncated once in
    // HUGEINT, the clamped SSB, unbalanced n₀, sign-explicit ratio
    "x188_icc_oneway" ->
      """WITH b AS (SELECT CAST(user_id % 97 AS VARCHAR) AS item,
        |    CAST(round(CAST(value AS DOUBLE) * 1000.0, 0) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |pi AS (SELECT item, CAST(count(*) AS BIGINT) AS ni,
        |    CAST(sum(x) AS BIGINT) AS si,
        |    sum(CAST(x AS HUGEINT) * x) AS sq
        |  FROM b GROUP BY 1),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ni) AS BIGINT) AS n, CAST(sum(si) AS BIGINT) AS s,
        |    sum(sq) AS sx2,
        |    sum((CAST(si AS HUGEINT) * si) // ni) AS sb_raw,
        |    sum(CAST(ni AS HUGEINT) * ni) AS sn2
        |  FROM pi),
        |st AS (SELECT k, n,
        |    CASE WHEN sb_raw - (CAST(s AS HUGEINT) * s) // n < 0
        |      THEN CAST(0 AS HUGEINT)
        |      ELSE sb_raw - (CAST(s AS HUGEINT) * s) // n END AS ssb,
        |    sx2 - sb_raw AS ssw, sn2
        |  FROM ag),
        |ms AS (SELECT k, n,
        |    CASE WHEN k < 2 THEN NULL ELSE ssb // (k - 1) END AS msb,
        |    CASE WHEN n <= k THEN NULL ELSE ssw // (n - k) END AS msw,
        |    CASE WHEN k < 2 THEN NULL
        |      ELSE (1000000 * (n - sn2 // n)) // (k - 1) END AS n0_micros
        |  FROM st)
        |SELECT k, n, CAST(msb AS BIGINT) AS msb_milli2,
        |  CAST(msw AS BIGINT) AS msw_milli2,
        |  CAST(n0_micros AS BIGINT) AS n0_micros,
        |  CASE WHEN msb IS NULL OR msw IS NULL
        |      OR 1000000 * msb + (n0_micros - 1000000) * msw <= 0
        |    THEN NULL
        |    ELSE CAST(sign(msb - msw) * ((1000000000000
        |      * abs(msb - msw)) // (1000000 * msb
        |      + (n0_micros - 1000000) * msw)) AS BIGINT)
        |  END AS icc_micros
        |FROM ms""".stripMargin,
    // dispersion replay: per-unit counts, the exact N·Σc² − S² form in
    // HUGEINT, each exported ratio truncated once
    "x189_dispersion" ->
      """WITH pu AS (SELECT CAST(user_id AS VARCHAR) AS unit,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(c) AS BIGINT) AS total,
        |    sum(CAST(c AS HUGEINT) * c) AS sc2
        |  FROM pu)
        |SELECT n_units, total,
        |  CASE WHEN n_units = 0 THEN NULL
        |    ELSE CAST((1000000 * CAST(total AS HUGEINT)) // n_units
        |      AS BIGINT) END AS mean_micros,
        |  CASE WHEN total = 0 OR n_units < 2 THEN NULL
        |    ELSE CAST((1000000 * (CAST(n_units AS HUGEINT) * sc2
        |      - CAST(total AS HUGEINT) * total))
        |      // (CAST(total AS HUGEINT) * (n_units - 1)) AS BIGINT)
        |  END AS dispersion_micros,
        |  CASE WHEN total = 0 THEN NULL
        |    ELSE CAST((1000000 * (CAST(n_units AS HUGEINT) * sc2
        |      - CAST(total AS HUGEINT) * total)) // total AS BIGINT)
        |  END AS chi2_micros,
        |  n_units - 1 AS dof
        |FROM ag""".stripMargin,
    // Mann–Whitney replay: per-value counts, the 2·midrank identity
    // over distinct values, HUGEINT sums, the chained truncated z²
    // division in the same order
    "x159_mann_whitney" ->
      """WITH b AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
        |    n_chars AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |byv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS a,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1),
        |rk AS (SELECT v, a, c,
        |    coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM byv),
        |agg AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |    CAST(sum(c - a) AS BIGINT) AS n_b,
        |    sum(CAST(a AS HUGEINT) * (2 * cb + c + 1)) AS r2a,
        |    sum(CAST(c AS HUGEINT) * c * c - c) AS tie_t
        |  FROM rk),
        |st AS (SELECT n_a, n_b, n_a + n_b AS n,
        |    r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2, tie_t
        |  FROM agg)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |    ELSE CAST(u2 AS BIGINT) END AS u_doubled,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |    ELSE CAST((500000 * u2) // (CAST(n_a AS HUGEINT) * n_b)
        |      AS BIGINT) END AS auc_micros,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |    ELSE CAST(sign(u2 - CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |  END AS z_sign,
        |  CASE WHEN n_a = 0 OR n_b = 0
        |      OR CAST(n AS HUGEINT) * n * n - n - tie_t = 0 THEN NULL
        |    ELSE CAST(((1000000 * (u2 - CAST(n_a AS HUGEINT) * n_b)
        |      * (u2 - CAST(n_a AS HUGEINT) * n_b))
        |      // (CAST(n_a AS HUGEINT) * n_b)
        |      * (3 * CAST(n AS HUGEINT) * (n - 1)))
        |      // (CAST(n AS HUGEINT) * n * n - n - tie_t) AS BIGINT)
        |  END AS z_sq_micros
        |FROM st""".stripMargin,
    // BH replay: exact per-slice z² in HUGEINT, the same exp(−z²/2)
    // IEEE sequence rounded once, the step-up scan over the ranked
    // slices with ties broken by slice
    "x161_bh_fdr" ->
      """WITH b AS (
        |  SELECT CAST(source AS VARCHAR) AS slice,
        |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS f
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |per AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_s,
        |    CAST(sum(f) AS BIGINT) AS k_s
        |  FROM b GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn,
        |    CAST(sum(k_s) AS BIGINT) AS kk,
        |    CAST(count(*) AS BIGINT) AS m FROM per),
        |sc AS (
        |  SELECT slice, n_s, k_s, m,
        |    CASE WHEN kk = 0 OR kk = nn THEN NULL
        |      ELSE CAST((1000000
        |        * (CAST(k_s AS HUGEINT) * nn - CAST(n_s AS HUGEINT) * kk)
        |        * (CAST(k_s AS HUGEINT) * nn - CAST(n_s AS HUGEINT) * kk))
        |        // (CAST(n_s AS HUGEINT) * kk * (nn - kk)) AS BIGINT)
        |    END AS z_sq_micros
        |  FROM per, tt),
        |sc2 AS (SELECT *, CASE WHEN z_sq_micros IS NULL THEN NULL
        |    ELSE CAST(round(exp(-CAST(z_sq_micros AS DOUBLE) / 2e6)
        |      * 1000000.0, 0) AS BIGINT) END AS p_tilde_micros
        |  FROM sc),
        |rk AS (SELECT *, row_number() OVER (
        |    ORDER BY p_tilde_micros ASC NULLS LAST, slice) AS rank
        |  FROM sc2),
        |rk2 AS (SELECT *, (rank * 100000) // m AS bh_threshold_micros
        |  FROM rk),
        |ks AS (SELECT coalesce(max(CASE WHEN p_tilde_micros
        |    <= bh_threshold_micros THEN rank END), 0) AS k_star
        |  FROM rk2)
        |SELECT slice, n_s, k_s, z_sq_micros, p_tilde_micros, rank,
        |  bh_threshold_micros, k_star, rank <= k_star AS rejected
        |FROM rk2, ks ORDER BY rank""".stripMargin,
    // McNemar replay: the same two heuristics, four exact cells, the
    // continuity-corrected statistic with the clamp-at-0
    "x162_mcnemar" ->
      """WITH b AS (
        |  SELECT (lang = 'en') AS label, (n_chars >= 150) AS pa,
        |    (len(list_filter(string_split(text, ' '), t -> t <> ''))
        |      >= 25) AS pb
        |  FROM documents
        |  WHERE lang IS NOT NULL AND text IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |ok AS (SELECT (pa = label) AS oka, (pb = label) AS okb FROM b),
        |cnt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN oka AND okb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS both_right,
        |    CAST(sum(CASE WHEN NOT oka AND NOT okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_wrong,
        |    CAST(sum(CASE WHEN oka AND NOT okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT oka AND okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM ok)
        |SELECT n, both_right, both_wrong, b, c,
        |  CASE WHEN b + c = 0 THEN NULL
        |    ELSE (1000000 * greatest(abs(b - c) - 1, 0)
        |      * greatest(abs(b - c) - 1, 0)) // (b + c)
        |  END AS chi2_micros
        |FROM cnt""".stripMargin,
    // isotonic replay: bucket-grain prefix sums, every interval mean
    // one truncated micro division, the exact max-of-min-of-means
    // identity over the i ≤ b ≤ j triple relation
    "x165_isotonic" ->
      """WITH b AS (
        |  SELECT least(9, n_chars // 60) AS bkt,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |byb AS (SELECT bkt, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY 1),
        |pre AS (SELECT bkt, pos, cnt,
        |    sum(pos) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cpos,
        |    sum(cnt) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS ccnt
        |  FROM byb),
        |iv AS (SELECT i.bkt AS lo, j.bkt AS hi,
        |    (1000000 * (j.cpos - i.cpos + i.pos))
        |      // (j.ccnt - i.ccnt + i.cnt) AS mm
        |  FROM pre i JOIN pre j ON j.bkt >= i.bkt),
        |pl AS (SELECT p.bkt, iv.lo, min(iv.mm) AS min_mean
        |  FROM iv JOIN pre p ON iv.lo <= p.bkt AND p.bkt <= iv.hi
        |  GROUP BY 1, 2),
        |fit AS (SELECT bkt, CAST(max(min_mean) AS BIGINT)
        |    AS iso_rate_micros
        |  FROM pl GROUP BY 1)
        |SELECT f.bkt AS bucket, p.cnt AS n, p.pos,
        |  CAST((1000000 * p.pos) // p.cnt AS BIGINT) AS raw_rate_micros,
        |  f.iso_rate_micros
        |FROM fit f JOIN pre p ON f.bkt = p.bkt ORDER BY bucket""".stripMargin,
    // group-k-fold replay: per-group counts, size-desc rank with id
    // tie-break, the serpentine fold arithmetic, per-fold totals back
    "x166_group_kfold" ->
      """WITH per AS (SELECT CAST(user_id AS VARCHAR) AS grp,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |rk AS (SELECT grp, n_rows,
        |    row_number() OVER (ORDER BY n_rows DESC, grp) AS rank
        |  FROM per),
        |asg AS (SELECT grp, n_rows, rank,
        |    CASE WHEN ((rank - 1) // 5) % 2 = 0 THEN (rank - 1) % 5
        |      ELSE 4 - ((rank - 1) % 5) END AS fold
        |  FROM rk),
        |ft AS (SELECT fold, CAST(sum(n_rows) AS BIGINT) AS fold_rows
        |  FROM asg GROUP BY 1)
        |SELECT a.grp, a.n_rows, a.rank, a.fold, ft.fold_rows
        |FROM asg a JOIN ft USING (fold) ORDER BY a.rank""".stripMargin,
    // quantile-normalization replay: per-group midrank level snap,
    // pooled ceil-rank order statistics at the 101 grid levels, the
    // level equi-join back
    "x169_quantile_norm" ->
      """WITH b AS (
        |  SELECT CAST(source AS VARCHAR) AS grp, n_chars AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |gv AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |lv AS (SELECT grp, v, c,
        |    coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
        |    sum(c) OVER (PARTITION BY grp) AS ng
        |  FROM gv),
        |lev AS (SELECT grp, v, c,
        |    CAST((100 * (2 * cb + c)) // (2 * ng) AS BIGINT) AS level
        |  FROM lv),
        |pool AS (SELECT v, CAST(sum(c) AS BIGINT) AS pc FROM gv GROUP BY 1),
        |poolc AS (SELECT v, pc, sum(pc) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM pool),
        |nt AS (SELECT max(cum) AS n FROM poolc),
        |lvls AS (SELECT g.l AS level,
        |    greatest(1, (g.l * n + 99) // 100) AS rank
        |  FROM generate_series(0, 100) AS g(l), nt),
        |gvv AS (SELECT level, min(v) AS pooled_v
        |  FROM lvls JOIN poolc ON cum >= rank GROUP BY 1)
        |SELECT grp, lev.v AS value, c AS n_rows, lev.level,
        |  pooled_v AS normalized_value
        |FROM lev JOIN gvv ON lev.level = gvv.level
        |ORDER BY grp, value""".stripMargin,
    // water-fill replay: the same ratio ordering, prefix sums, clamped
    // level, capped marking, and max-level λ over the uncapped set
    "x173_water_fill" ->
      """WITH src AS (
        |  SELECT CAST(source AS VARCHAR) AS src,
        |    CAST(sum(n_chars) AS BIGINT) AS supply,
        |    CAST(count(*) % 7 + 1 AS BIGINT) AS w
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |  GROUP BY 1),
        |rk AS (SELECT src, supply, w,
        |    (1000000 * supply) // w AS ratio_micros,
        |    coalesce(sum(supply) OVER (ORDER BY (1000000 * supply) // w,
        |      src ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS sup_before,
        |    coalesce(sum(w) OVER (ORDER BY (1000000 * supply) // w, src
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS w_before
        |  FROM src),
        |tt AS (SELECT CAST(sum(w) AS BIGINT) AS w_all FROM rk),
        |mk AS (SELECT rk.*,
        |    CAST(CASE WHEN 40000 - sup_before < 0 THEN -1
        |      ELSE (1000000 * (40000 - sup_before)) // (w_all - w_before)
        |    END AS BIGINT) AS level_micros
        |  FROM rk, tt),
        |mk2 AS (SELECT *, level_micros > ratio_micros AS capped FROM mk),
        |lam AS (SELECT max(CASE WHEN NOT capped THEN level_micros END)
        |    AS lambda_micros FROM mk2)
        |SELECT src, supply, w, ratio_micros, capped, lambda_micros,
        |  CASE WHEN capped THEN supply
        |    ELSE (w * lambda_micros) // 1000000 END AS alloc
        |FROM mk2, lam ORDER BY ratio_micros, src""".stripMargin,
    // Kruskal–Wallis replay: pooled doubled midranks over distinct
    // values, per-group HUGEINT rank sums, per-group micro quantization
    // of R²/n, chained tie correction with the clamp
    "x179_kruskal_wallis" ->
      """WITH b AS (
        |  SELECT CAST(source AS VARCHAR) AS g, n_chars AS v
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |pool AS (SELECT v, CAST(sum(c) AS BIGINT) AS pc
        |  FROM gv GROUP BY 1),
        |poolc AS (SELECT v, pc,
        |    coalesce(sum(pc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM pool),
        |tie AS (SELECT CAST(sum(pc) AS BIGINT) AS n,
        |    sum(CAST(pc AS HUGEINT) * pc * pc - pc) AS t FROM poolc),
        |rj AS (SELECT g, CAST(sum(c) AS BIGINT) AS nj,
        |    sum(CAST(c AS HUGEINT) * (2 * cb + pc + 1)) AS r2
        |  FROM gv JOIN poolc USING (v) GROUP BY 1),
        |sj AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    sum((1000000 * r2 * r2) // (4 * CAST(nj AS HUGEINT)))
        |      AS ssum
        |  FROM rj),
        |h AS (SELECT n, k,
        |    CAST((12 * ssum) // (CAST(n AS HUGEINT) * (n + 1))
        |      - 3000000 * (n + 1) AS BIGINT) AS h_micros, t
        |  FROM sj, tie)
        |SELECT n, k AS k_groups, h_micros,
        |  CASE WHEN CAST(n AS HUGEINT) * n * n - n - t = 0 THEN NULL
        |    ELSE CAST((greatest(0, CAST(h_micros AS HUGEINT))
        |      * (CAST(n AS HUGEINT) * n * n - n))
        |      // (CAST(n AS HUGEINT) * n * n - n - t) AS BIGINT)
        |  END AS h_tc_micros
        |FROM h""".stripMargin,
    // Hodges–Lehmann replay: value-pair difference cells with HUGEINT
    // count-product weights, lower weighted median at ceil-rank
    "x180_hodges_lehmann" ->
      """WITH av AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND lang = 'en'
        |  GROUP BY 1),
        |bv AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND lang <> 'en'
        |  GROUP BY 1),
        |df AS (SELECT av.v - bv.v AS d,
        |    sum(CAST(av.c AS HUGEINT) * bv.c) AS w
        |  FROM av, bv GROUP BY 1),
        |cum AS (SELECT d, w, sum(w) OVER (ORDER BY d ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM df),
        |tt AS (SELECT max(cw) AS wt, CAST(count(*) AS BIGINT) AS nd
        |  FROM cum),
        |gd AS (SELECT CAST((SELECT count(*) FROM av) AS BIGINT)
        |    * (SELECT count(*) FROM bv) AS n_cells),
        |med AS (SELECT min(d) AS hl_shift FROM cum, tt
        |  WHERE cw >= (wt + 1) // 2)
        |SELECT (SELECT CAST(sum(c) AS BIGINT) FROM av) AS n_a,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM bv) AS n_b,
        |  nd AS n_diff_values, CAST(wt AS BIGINT) AS w_total,
        |  n_cells, hl_shift
        |FROM tt, gd, med""".stripMargin,
    // Cochran's Q replay: the same three heuristics, row-local L/L²,
    // per-judge success sums, one truncated HUGEINT division
    "x175_cochran_q" ->
      """WITH b AS (
        |  SELECT (lang = 'en') AS label, (n_chars >= 150) AS p0,
        |    (len(list_filter(string_split(text, ' '), t -> t <> ''))
        |      >= 25) AS p1,
        |    (text LIKE '% the %') AS p2
        |  FROM documents
        |  WHERE lang IS NOT NULL AND text IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |ok AS (SELECT CASE WHEN p0 = label THEN 1 ELSE 0 END AS ok0,
        |  CASE WHEN p1 = label THEN 1 ELSE 0 END AS ok1,
        |  CASE WHEN p2 = label THEN 1 ELSE 0 END AS ok2 FROM b),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ok0 + ok1 + ok2) AS BIGINT) AS s,
        |  CAST(sum((ok0 + ok1 + ok2) * (ok0 + ok1 + ok2)) AS BIGINT)
        |    AS l2,
        |  CAST(sum(ok0) AS BIGINT) AS g0, CAST(sum(ok1) AS BIGINT) AS g1,
        |  CAST(sum(ok2) AS BIGINT) AS g2 FROM ok)
        |SELECT n, CAST(3 AS BIGINT) AS k_judges, s,
        |  CASE WHEN 3 * s - l2 = 0 THEN NULL
        |    ELSE CAST((1000000 * 2 * (3 * (CAST(g0 AS HUGEINT) * g0
        |      + CAST(g1 AS HUGEINT) * g1 + CAST(g2 AS HUGEINT) * g2)
        |      - CAST(s AS HUGEINT) * s))
        |      // (CAST(3 AS HUGEINT) * s - l2) AS BIGINT)
        |  END AS q_micros
        |FROM agg""".stripMargin,
    // largest-remainder replay: one integer quota division + mod per
    // source, remainder-desc rank with src tie-break, exact-sum check
    // implicit in the alloc arithmetic
    "x176_largest_remainder" ->
      """WITH src AS (SELECT CAST(source AS VARCHAR) AS src,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |tt AS (SELECT CAST(sum(w) AS BIGINT) AS w_all FROM src),
        |q AS (SELECT src, w, (1000 * w) // w_all AS base,
        |    (1000 * w) % w_all AS remainder
        |  FROM src, tt),
        |lo AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS r FROM q),
        |rk AS (SELECT *, row_number() OVER (ORDER BY remainder DESC, src)
        |    AS rem_rank FROM q)
        |SELECT src, w, base, remainder, rem_rank,
        |  base + CASE WHEN rem_rank <= r THEN 1 ELSE 0 END AS alloc
        |FROM rk, lo ORDER BY src""".stripMargin,
    // priority-sample replay: the salted 16-bit coordinate, the same
    // -ln(u)/w IEEE sequence micro-quantized once per row, top-k by
    // (key, id)
    "x102_priority_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         |    ${hash16Sql("doc_id || '#ares'")} AS h
         |  FROM documents
         |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0)
         |SELECT doc_id, weight,
         |  CAST(round((-ln((h + 1) / 65536.0) / weight) * 1000000.0, 0)
         |    AS BIGINT) AS key_micro
         |FROM h
         |ORDER BY key_micro, doc_id LIMIT 100""".stripMargin,
    // passage-chunk replay: the same tokenizer, start grid
    // range(1, len+1, stride), integer-div chunk id, inclusive-end
    // list slice — fully row-local in both engines
    "x96_passage_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |s AS (
        |  SELECT doc_id, tk,
        |    CAST(unnest(range(1, len(tk) + 1, 12)) AS INTEGER) AS start_pos
        |  FROM toks WHERE len(tk) >= 1)
        |SELECT doc_id,
        |  CAST((start_pos - 1) // 12 + 1 AS INTEGER) AS chunk_id, start_pos,
        |  CAST(least(16, len(tk) - start_pos + 1) AS INTEGER) AS n_tokens,
        |  array_to_string(tk[start_pos : start_pos + 15], ' ') AS chunk
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    // epoch-shuffle replay: the salted sha shard hash (pmod ≡ % on the
    // non-negative 16-bit hash) and the per-shard (hash, id) rank
    "x83_epoch_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${hash16Sql("(CAST(doc_id AS VARCHAR) || '#e3')")} AS h
         |  FROM documents)
         |SELECT doc_id, h % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |    AS INTEGER) AS pos
         |FROM h
         |ORDER BY shard, pos""".stripMargin,
    // x83's layout replayed, then the adjacency audit: LAG same-source
    // flags, gaps-and-islands runs, exact micro fraction
    "x111_shuffle_quality" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${hash16Sql("(CAST(doc_id AS VARCHAR) || '#e3')")} AS h
         |  FROM documents),
         |lay AS (
         |  SELECT doc_id, h % 8 AS shard,
         |    row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
         |  FROM h),
         |lg AS (
         |  SELECT l.shard, l.pos,
         |    CASE WHEN lag(d.source) OVER (PARTITION BY l.shard ORDER BY l.pos)
         |           = d.source THEN 1 ELSE 0 END AS same
         |  FROM lay l JOIN documents d ON l.doc_id = d.doc_id),
         |r AS (
         |  SELECT shard, same,
         |    sum(1 - same) OVER (PARTITION BY shard ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
         |  FROM lg),
         |rl AS (SELECT shard, run_id, count(*) AS run_len FROM r GROUP BY 1, 2),
         |mr AS (SELECT shard, CAST(max(run_len) AS BIGINT) AS max_run
         |       FROM rl GROUP BY 1),
         |ag AS (
         |  SELECT shard, count(*) AS n_docs,
         |    CAST(sum(same) AS BIGINT) AS n_adjacent_same
         |  FROM lg GROUP BY 1)
         |SELECT a.shard, CAST(n_docs AS BIGINT) AS n_docs, n_adjacent_same,
         |  CASE WHEN n_docs <= 1 THEN NULL
         |       ELSE CAST((1000000 * n_adjacent_same) // (n_docs - 1) AS BIGINT)
         |  END AS same_frac_micros,
         |  max_run
         |FROM ag a JOIN mr m ON a.shard = m.shard
         |ORDER BY a.shard""".stripMargin,
    // same layout reduced to per-shard loads, then the one-row balance
    // summary: straggler ratio + exact Gini, both in integer micros
    "x112_shard_balance" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${hash16Sql("(CAST(doc_id AS VARCHAR) || '#e3')")} AS h
         |  FROM documents),
         |lay AS (SELECT doc_id, h % 8 AS shard FROM h),
         |loads AS (
         |  SELECT l.shard, CAST(sum(d.n_chars) AS BIGINT) AS shard_load
         |  FROM lay l JOIN documents d ON l.doc_id = d.doc_id GROUP BY 1),
         |pr AS (
         |  SELECT CAST(sum(abs(a.shard_load - b.shard_load)) AS BIGINT)
         |    AS pair_abs
         |  FROM loads a, loads b),
         |tot AS (
         |  SELECT count(*) AS n_shards,
         |    CAST(sum(shard_load) AS BIGINT) AS total_load,
         |    CAST(max(shard_load) AS BIGINT) AS max_load,
         |    CAST(min(shard_load) AS BIGINT) AS min_load
         |  FROM loads)
         |SELECT CAST(n_shards AS BIGINT) AS n_shards, total_load, max_load,
         |  min_load,
         |  CASE WHEN total_load = 0 THEN NULL
         |       ELSE CAST((1000000 * max_load * n_shards) // total_load
         |         AS BIGINT) END AS skew_micros,
         |  CASE WHEN total_load = 0 THEN NULL
         |       ELSE CAST((1000000 * pair_abs) // (2 * n_shards * total_load)
         |         AS BIGINT) END AS gini_micros
         |FROM tot, pr""".stripMargin,
    // calibration replay: identical IEEE double p, clamped equal-width
    // bin, per-row micro quantization BEFORE the sums, // ≡ div on the
    // non-negative operands, one-row ECE broadcast on every bin
    "x120_calibration" ->
      """WITH b AS (
        |  SELECT least(n_chars, 600) / 600.0 AS p, (lang = 'en') AS y
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |r AS (
        |  SELECT greatest(0, least(CAST(floor(p * 10) AS BIGINT), 9)) AS bin,
        |    CAST(round(p * 1000000.0, 0) AS BIGINT) AS p_micro,
        |    CASE WHEN y THEN 1 ELSE 0 END AS pos
        |  FROM b),
        |g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(p_micro) AS BIGINT) AS sp
        |  FROM r GROUP BY 1),
        |bins AS (
        |  SELECT bin, n, n_pos, CAST(sp // n AS BIGINT) AS mean_p_micros,
        |    CAST((1000000 * n_pos) // n AS BIGINT) AS emp_micros
        |  FROM g),
        |b2 AS (
        |  SELECT *, CAST(abs(mean_p_micros - emp_micros) AS BIGINT)
        |    AS gap_micros
        |  FROM bins),
        |e AS (SELECT CAST(sum(n * gap_micros) // sum(n) AS BIGINT)
        |      AS ece_micros FROM b2)
        |SELECT bin, n, n_pos, mean_p_micros, emp_micros, gap_micros,
        |  e.ece_micros
        |FROM b2, e ORDER BY bin""".stripMargin,
    // Benford replay: same truncated log10 micro literals, string first
    // digit of the positive cents, // ≡ div on non-negative operands
    "x123_benford" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS c
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND CAST(round(o_totalprice * 100.0, 0) AS BIGINT) > 0),
        |d AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit),
        |e AS (SELECT digit, CAST(CASE digit
        |    WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938
        |    WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946
        |    WHEN 7 THEN 57991 WHEN 8 THEN 51152 ELSE 45757 END AS BIGINT)
        |  AS exp_micros FROM d),
        |cnt AS (
        |  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
        |    AS digit, count(*) AS n
        |  FROM v GROUP BY 1),
        |g AS (
        |  SELECT e.digit, CAST(coalesce(n, 0) AS BIGINT) AS n, exp_micros
        |  FROM e LEFT JOIN cnt USING (digit)),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
        |r AS (
        |  SELECT digit, n, total,
        |    CASE WHEN total = 0 THEN NULL
        |         ELSE CAST((1000000 * n) // total AS BIGINT) END AS obs_micros,
        |    exp_micros
        |  FROM g, t),
        |r2 AS (SELECT *, CAST(obs_micros - exp_micros AS BIGINT)
        |       AS gap_micros FROM r),
        |chi AS (SELECT CAST(sum(((obs_micros - exp_micros)
        |  * (obs_micros - exp_micros)) // exp_micros) AS BIGINT)
        |  AS chi2_micros FROM r2)
        |SELECT digit, n, total, obs_micros, exp_micros, gap_micros,
        |  chi2_micros
        |FROM r2, chi ORDER BY digit""".stripMargin,
    // bootstrap replay: identical sha 16-bit coordinate per (doc, rep),
    // identical truncated Poisson-CDF thresholds, rank 2/39 of 40 means
    "x124_bootstrap_ci" ->
      s"""WITH base AS (
         |  SELECT doc_id, n_chars FROM documents
         |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
         |r AS (SELECT doc_id, n_chars, unnest(range(0, 40)) AS rep
         |      FROM base),
         |h AS (SELECT rep, n_chars,
         |  ${hash16Sql("(CAST(doc_id AS VARCHAR) || '#boot#' || CAST(rep AS VARCHAR))")}
         |  AS hv FROM r),
         |w AS (SELECT rep, n_chars, CASE
         |    WHEN hv < 24109 THEN 0 WHEN hv < 48218 THEN 1
         |    WHEN hv < 60273 THEN 2 WHEN hv < 64291 THEN 3
         |    WHEN hv < 65296 THEN 4 WHEN hv < 65497 THEN 5
         |    WHEN hv < 65530 THEN 6 WHEN hv < 65535 THEN 7 ELSE 8 END
         |  AS wt FROM h),
         |g AS (SELECT rep, CAST(sum(wt) AS BIGINT) AS n_eff,
         |      CAST(sum(wt * n_chars) AS BIGINT) AS swv FROM w GROUP BY 1),
         |m AS (SELECT CAST(rep AS INTEGER) AS rep, n_eff,
         |  CASE WHEN n_eff = 0 THEN NULL
         |       ELSE CAST((1000000 * swv) // n_eff AS BIGINT) END
         |  AS mean_micro FROM g),
         |rk AS (SELECT *, row_number() OVER (
         |    ORDER BY coalesce(mean_micro, -1), rep) AS rn FROM m),
         |b AS (SELECT max(CASE WHEN rn = 2 THEN mean_micro END) AS lo_micro,
         |      max(CASE WHEN rn = 39 THEN mean_micro END) AS hi_micro
         |      FROM rk)
         |SELECT rep, n_eff, mean_micro, lo_micro, hi_micro
         |FROM rk, b ORDER BY rep""".stripMargin,
    // Wilson replay: exact integer (n, n_pos) per source, the identical
    // IEEE lower-bound expression (sqrt correctly rounded both engines)
    "x125_wilson_bounds" ->
      """WITH b AS (
        |  SELECT source AS grp, (lang = 'en') AS y FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM b GROUP BY 1)
        |SELECT grp, n, n_pos,
        |  CAST((1000000 * n_pos) // n AS BIGINT) AS p_micros,
        |  CAST(floor(1000000.0 * (((CAST(n_pos AS DOUBLE) + 1.96*1.96/2.0)
        |    / CAST(n AS DOUBLE) - (1.96 / CAST(n AS DOUBLE)) *
        |    sqrt(CAST(n_pos AS DOUBLE) * (CAST(n AS DOUBLE) -
        |    CAST(n_pos AS DOUBLE)) / CAST(n AS DOUBLE) + 1.96*1.96/4.0))
        |    / (1.0 + 1.96*1.96 / CAST(n AS DOUBLE)))) AS BIGINT)
        |  AS wilson_lb_micros
        |FROM g ORDER BY grp""".stripMargin,
    // average-precision replay: per-score counts, DESC inclusive
    // cumulative window over DISTINCT scores, block-end precision
    "x126_avg_precision" ->
      """WITH b AS (
        |  SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |g AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
        |      CAST(sum(y) AS BIGINT) AS p FROM b GROUP BY 1),
        |w AS (
        |  SELECT c, p,
        |    sum(c) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all,
        |    sum(p) OVER (ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        |  FROM g),
        |a AS (
        |  SELECT CAST(sum(p * ((1000000 * cum_pos) // cum_all)) AS BIGINT)
        |      AS tsum,
        |    CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(c) - sum(p) AS BIGINT) AS n_neg
        |  FROM w)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |       ELSE CAST(tsum // n_pos AS BIGINT) END AS ap_micros
        |FROM a""".stripMargin,
    // concentration replay: exact micro shares, HHI, per-group-rounded
    // entropy terms (the x28d/x79 single-libm-round convention)
    "x128_source_concentration" ->
      """WITH g AS (
        |  SELECT source AS grp, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
        |s AS (
        |  SELECT grp, n, total,
        |    CAST((1000000 * n) // total AS BIGINT) AS share_micros,
        |    CAST(round(-(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) *
        |      ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0, 0)
        |      AS BIGINT) AS ent_term
        |  FROM g, t),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(share_micros * share_micros) // 1000000 AS BIGINT)
        |      AS hhi_micros,
        |    CAST(sum(ent_term) AS BIGINT) AS entropy_micro_nats
        |  FROM s)
        |SELECT grp, n, total, share_micros, n_groups, hhi_micros,
        |  entropy_micro_nats
        |FROM s, a ORDER BY grp""".stripMargin,
    // Mann–Whitney replay: per-score counts, the cumulative-preceding
    // window over DISTINCT scores, the same exact integer midrank sum
    "x121_auc_exact" ->
      """WITH b AS (
        |  SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |g AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
        |      CAST(sum(y) AS BIGINT) AS p FROM b GROUP BY 1),
        |w AS (
        |  SELECT s, c, p,
        |    coalesce(sum(c) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM g),
        |a AS (
        |  SELECT CAST(sum(p * (2 * cum + c + 1)) AS BIGINT) AS r2,
        |    CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(c) - sum(p) AS BIGINT) AS n_neg
        |  FROM w)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |       ELSE CAST((1000000 * (r2 - n_pos * (n_pos + 1)))
        |         // (2 * n_pos * n_neg) AS BIGINT)
        |  END AS auc_micros
        |FROM a""".stripMargin,
    // bucketed-AUC replay: micro-quantize the score, equal-width
    // integer buckets over the observed range, then the identical
    // Mann–Whitney midrank machinery over the bucket
    "x121b_auc_bucketed" ->
      """WITH raw AS (
        |  SELECT CAST(round(CAST(n_chars AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) AS sm,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |bd AS (SELECT min(sm) AS lo, max(sm) AS hi FROM raw),
        |b AS (SELECT ((sm - lo) * 16) // (hi - lo + 1) AS s, y
        |      FROM raw, bd),
        |g AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
        |      CAST(sum(y) AS BIGINT) AS p FROM b GROUP BY 1),
        |w AS (
        |  SELECT s, c, p,
        |    coalesce(sum(c) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM g),
        |a AS (
        |  SELECT CAST(sum(p * (2 * cum + c + 1)) AS BIGINT) AS r2,
        |    CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(c) - sum(p) AS BIGINT) AS n_neg
        |  FROM w)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |       ELSE CAST((1000000 * (r2 - n_pos * (n_pos + 1)))
        |         // (2 * n_pos * n_neg) AS BIGINT)
        |  END AS auc_micros
        |FROM a""".stripMargin,
    // largest-remainder replay: integer seat arithmetic (// ≡ div on
    // positive operands), remainder ranking over the tiny strata
    // relation, in-stratum rank on the same sha-derived salted hash
    "x81_stratified_quota" ->
      s"""WITH base AS (
         |  SELECT doc_id, source AS stratum FROM documents
         |  WHERE source IS NOT NULL),
         |cs AS (SELECT stratum, count(*) AS c_s FROM base GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_s) AS BIGINT) AS cc FROM cs),
         |seats AS (
         |  SELECT stratum, c_s, (200 * c_s) // cc AS base_s,
         |    (200 * c_s) % cc AS rem_s
         |  FROM cs CROSS JOIN tot),
         |ex AS (SELECT 200 - CAST(sum(base_s) AS BIGINT) AS extra FROM seats),
         |alloc AS (
         |  SELECT stratum, base_s + (CASE WHEN
         |      row_number() OVER (ORDER BY rem_s DESC, stratum) <= extra
         |    THEN 1 ELSE 0 END) AS alloc
         |  FROM seats CROSS JOIN ex),
         |rk AS (
         |  SELECT doc_id, stratum,
         |    row_number() OVER (PARTITION BY stratum
         |      ORDER BY ${hash16Sql("(CAST(doc_id AS VARCHAR) || '#quota')")}, doc_id) AS rk
         |  FROM base)
         |SELECT doc_id, stratum, rk FROM rk JOIN alloc USING (stratum)
         |WHERE rk <= alloc
         |ORDER BY stratum, rk""".stripMargin,
    // full DSIR replay: unigram+bigram features (range(1, len) is empty
    // for 0/1-token docs, so tiny docs degrade exactly like Spark's
    // token_bigrams), the portable sha-derived bucket hash, add-one
    // smoothed (bucket, side) occurrence counts over ALL 256 buckets
    // (empty buckets still carry smoothed mass via the range left join),
    // the micro-nat λ quantization (ln paid once per bucket — the x28j
    // recipe), and the exact integer per-doc sum. sum(BIGINT) promotes
    // to HUGEINT in DuckDB: cast back before use.
    "x49_dsir_weights" ->
      s"""WITH tk AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, lang,
         |    unnest(tk || list_transform(range(1, len(tk)),
         |      i -> tk[i] || ' ' || tk[i + 1])) AS f
         |  FROM tk),
         |fb AS (
         |  SELECT doc_id, (${hash16Sql("f")} % 256) AS b,
         |    (lang = 'en') AS is_t
         |  FROM feats),
         |cnt AS (
         |  SELECT b,
         |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS BIGINT) AS cr
         |  FROM fb GROUP BY b),
         |tot AS (
         |  SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
         |  FROM cnt),
         |lam AS (
         |  SELECT r.b,
         |    CAST(round((ln((coalesce(ct, 0) + 1) / (tt + 256)) -
         |                ln((coalesce(cr, 0) + 1) / (tr + 256))) * 1000000, 0)
         |      AS BIGINT) AS lam
         |  FROM range(0, 256) AS r(b)
         |  LEFT JOIN cnt ON cnt.b = r.b CROSS JOIN tot),
         |sc AS (
         |  SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |    CAST(sum(lam) AS BIGINT) AS s
         |  FROM fb JOIN lam ON lam.b = fb.b
         |  GROUP BY fb.doc_id)
         |SELECT doc_id, n_feats, round(s / 1000000.0, 6) AS logw
         |FROM sc ORDER BY doc_id""".stripMargin,
    // full mixture replay: per-source token totals, the capped keep
    // probability p = min(1, w·budget/tot) (identical double promotion
    // chain in both engines), and the '#mix'-salted 16-bit coordinate
    "x39_mix" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |   CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tot FROM toks GROUP BY 1),
         |probs AS (
         |  SELECT t.doc_id, t.source, t.n_tokens,
         |    least(1.0, (CASE WHEN t.source = 'src0' THEN 0.5
         |                     WHEN t.source = 'src1' THEN 0.3
         |                     WHEN t.source = 'src2' THEN 0.2
         |                     ELSE 0.0 END * 2000.0) / tot) AS p
         |  FROM toks t JOIN tot ON t.source = tot.source)
         |SELECT doc_id, source, n_tokens FROM probs
         |WHERE CAST(${hash16Sql("(CAST(doc_id AS VARCHAR) || '#mix')")} AS DOUBLE) / 65536.0 < p
         |ORDER BY doc_id""".stripMargin,
    // the uncapped twin: floor(p) whole epochs per doc plus one more when
    // the salted coordinate falls under frac(p); p > 0 so floor == trunc
    // and both engines' floor agree exactly
    "x39b_mix_replicated" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |   CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tot FROM toks GROUP BY 1),
         |probs AS (
         |  SELECT t.doc_id, t.source, t.n_tokens,
         |    ((CASE WHEN t.source = 'src0' THEN 0.7
         |           WHEN t.source = 'src1' THEN 0.3
         |           ELSE 0.0 END * 5000.0) / tot) AS p
         |  FROM toks t JOIN tot ON t.source = tot.source),
         |copies AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(floor(p) AS BIGINT) +
         |      (CASE WHEN CAST(${hash16Sql("(CAST(doc_id AS VARCHAR) || '#mix')")} AS DOUBLE) / 65536.0
         |            < p - floor(p) THEN 1 ELSE 0 END) AS n_copies
         |  FROM probs)
         |SELECT doc_id, source, n_tokens,
         | CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
         |FROM copies WHERE n_copies > 0
         |ORDER BY doc_id, epoch""".stripMargin,
    // full temperature-mixture replay: token totals per source, sqrt
    // weights (IEEE requires sqrt correctly rounded, so both engines
    // derive bit-equal weights from the data), the weight sum as an
    // ORDERED fold (list ORDER BY source; list_reduce is sequential and
    // Spark's 0.0-seeded fold agrees since 0.0 + x₁ = x₁), then the same
    // probability expression tree and the x39b replication mechanism
    // under the independent '#temp' salt
    "x39c_mix_temperature" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |   CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tot FROM toks GROUP BY 1),
         |roots AS (
         |  SELECT source, tot, sqrt(CAST(tot AS DOUBLE)) AS rt
         |  FROM tot WHERE tot > 0),
         |s AS (SELECT list_reduce(list(rt ORDER BY source), (a, b) -> a + b) AS ssum
         |  FROM roots),
         |probs AS (
         |  SELECT t.doc_id, t.source, t.n_tokens,
         |    (30000.0 * r.rt) / (s.ssum * r.tot) AS p
         |  FROM toks t JOIN roots r USING (source) CROSS JOIN s),
         |copies AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(floor(p) AS BIGINT) +
         |      (CASE WHEN CAST(${hash16Sql("(CAST(doc_id AS VARCHAR) || '#temp')")} AS DOUBLE) / 65536.0
         |            < p - floor(p) THEN 1 ELSE 0 END) AS n_copies
         |  FROM probs)
         |SELECT doc_id, source, n_tokens,
         | CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
         |FROM copies WHERE n_copies > 0
         |ORDER BY doc_id, epoch""".stripMargin,
    // exact replay of the unit coordinate (16-bit/65536 is a dyadic
    // rational — both engines' doubles represent it exactly) and the
    // weight comparison, so the kept SET is checked; the '#w' salt is
    // weightedHashSample's — its coordinate is independent of the
    // bucket-based samplers' so composed stages multiply probabilities
    "x31f_weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         | least(1.0, n_chars / 400.0) AS weight
         |FROM documents
         |WHERE CAST(${hash16Sql("(CAST(doc_id AS VARCHAR) || '#w')")} AS DOUBLE) / 65536.0 <
         |   least(1.0, n_chars / 400.0)
         |ORDER BY doc_id""".stripMargin,
    // same cut replayed: windows start every 15 tokens while any token
    // remains; the final window may be short
    "x32b_chunk" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, tk,
        |    unnest(range(CAST(floor((len(tk) - 1) / 15.0) AS BIGINT) + 1)) AS chunk_idx
        |  FROM tk WHERE len(tk) > 0)
        |SELECT doc_id, chunk_idx,
        | array_to_string(tk[chunk_idx * 15 + 1 : chunk_idx * 15 + 20], ' ') AS chunk_text,
        | CAST(least(20, len(tk) - chunk_idx * 15) AS BIGINT) AS n_tokens
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,
    "x36_zorder" ->
      s"""SELECT doc_id,
         | CAST(${zSql("doc_id", "n_chars", 16)} AS BIGINT) AS z
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x31e_cap_per_key" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 20
        |ORDER BY doc_id""".stripMargin,
    "x31_split" ->
      s"""SELECT doc_id,
         | CAST(${bucketSql("doc_id")} AS INTEGER) AS bucket,
         | CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
         |      WHEN ${bucketSql("doc_id")} < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x31b_sample" ->
      s"""SELECT doc_id, lang
         |FROM documents
         |WHERE ${bucketSql("doc_id")} < 20
         |ORDER BY doc_id""".stripMargin,
    // Spark percentile == DuckDB quantile_cont on integer inputs (the
    // q08b-established portable pair)
    // Bayesian-average replay: one group aggregation, the grand mean in
    // micros once, the same integer shrinkage quotient
    // weighted-order-statistic replay: per-(group, value) weight sums,
    // keyed cumulative pass, ceil-rank in integer arithmetic
    "x157_weighted_quantiles" ->
      """WITH b AS (
        |  SELECT source AS grp, CAST(n_chars AS BIGINT) AS v,
        |    CAST(n_chars AS BIGINT) AS w
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |pv AS (SELECT grp, v, CAST(sum(w) AS BIGINT) AS wc
        |       FROM b GROUP BY 1, 2),
        |c AS (
        |  SELECT grp, v, wc,
        |    CAST(sum(wc) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cw,
        |    CAST(sum(wc) OVER (PARTITION BY grp) AS BIGINT) AS w_total
        |  FROM pv),
        |q(q_micros) AS (VALUES (500000), (900000), (990000)),
        |r AS (
        |  SELECT grp, v, cw, w_total, CAST(q_micros AS BIGINT) AS q_micros,
        |    (CAST(q_micros AS BIGINT) * w_total + 999999) // 1000000
        |      AS rank
        |  FROM c, q)
        |SELECT grp, q_micros, w_total, CAST(rank AS BIGINT) AS rank,
        |  CAST(min(v) AS BIGINT) AS value
        |FROM r WHERE cw >= rank AND w_total > 0
        |GROUP BY grp, q_micros, w_total, rank
        |ORDER BY grp, q_micros""".stripMargin,
    // per-slice Mann–Whitney midrank replay (the x121 machinery
    // partitioned by slice), min/max/gap over non-NULL slice AUCs
    "x156_auc_by_slice" ->
      """WITH b AS (
        |  SELECT source AS g, n_chars AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |    AND lang IS NOT NULL),
        |g1 AS (SELECT g, s, CAST(count(*) AS BIGINT) AS c,
        |       CAST(sum(y) AS BIGINT) AS p FROM b GROUP BY 1, 2),
        |w AS (
        |  SELECT g, c, p,
        |    coalesce(sum(c) OVER (PARTITION BY g ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM g1),
        |r AS (
        |  SELECT g, CAST(sum(p * (2 * cum + c + 1)) AS BIGINT) AS r2,
        |    CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(c) - sum(p) AS BIGINT) AS n_neg
        |  FROM w GROUP BY 1),
        |a AS (
        |  SELECT g AS slice, n_pos, n_neg,
        |    CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |         ELSE CAST((1000000 * (r2 - n_pos * (n_pos + 1)))
        |           // (2 * n_pos * n_neg) AS BIGINT)
        |    END AS auc_micros
        |  FROM r)
        |SELECT slice, n_pos, n_neg, auc_micros,
        |  (SELECT CAST(min(auc_micros) AS BIGINT) FROM a)
        |    AS min_auc_micros,
        |  (SELECT CAST(max(auc_micros) AS BIGINT) FROM a)
        |    AS max_auc_micros,
        |  (SELECT CAST(max(auc_micros) - min(auc_micros) AS BIGINT) FROM a)
        |    AS auc_gap_micros
        |FROM a ORDER BY slice""".stripMargin,
    // ESS replay: the identical two-stage integer normalization (share
    // of group max at 1e-7 grain, then share of that total at 1e-7
    // grain) — every div has a non-negative dividend, so DuckDB's
    // floor-// equals Spark's truncating div
    "x145_ess_weights" ->
      """WITH b AS (
        |  SELECT source AS grp,
        |    CAST(round(CAST(n_chars AS DOUBLE) * 1000, 0) AS BIGINT) AS wm
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |mx AS (SELECT grp, max(wm) AS wmax FROM b GROUP BY 1),
        |v1 AS (
        |  SELECT b.grp,
        |    CASE WHEN wmax = 0 THEN 0
        |         ELSE (10000000 * wm) // wmax END AS v1
        |  FROM b JOIN mx ON b.grp = mx.grp),
        |s1 AS (SELECT grp, CAST(sum(v1) AS BIGINT) AS s1 FROM v1 GROUP BY 1),
        |v AS (
        |  SELECT v1.grp,
        |    CASE WHEN s1 = 0 THEN 0
        |         ELSE (10000000 * v1) // s1 END AS v
        |  FROM v1 JOIN s1 ON v1.grp = s1.grp),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sv,
        |    CAST(sum(v * v) AS BIGINT) AS sv2,
        |    CAST(max(v) AS BIGINT) AS vmax,
        |    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_zero_share
        |  FROM v GROUP BY 1)
        |SELECT grp, n,
        |  CASE WHEN sv2 = 0 THEN NULL
        |       ELSE CAST((1000 * sv * sv) // sv2 AS BIGINT) END AS ess_milli,
        |  CASE WHEN sv2 = 0 THEN NULL
        |       ELSE CAST((1000 * ((1000 * sv * sv) // sv2)) // n AS BIGINT)
        |  END AS ess_fraction_micros,
        |  CAST(vmax // 10 AS BIGINT) AS max_share_micros,
        |  n_zero_share
        |FROM g ORDER BY grp""".stripMargin,
    // Brier decomposition replay: micro scores, per-row squared error
    // reduced to micro grain before summing, per-bin truncated means,
    // count-weighted squared gaps — each div's dividend non-negative
    "x146_brier_decomp" ->
      """WITH b AS (
        |  SELECT CAST(round((least(n_chars, 600) / 600.0) * 1000000.0, 0)
        |           AS BIGINT) AS p,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |r AS (
        |  SELECT least(9, (p * 10) // 1000000) AS bin, p, o,
        |    ((p - 1000000 * o) * (p - 1000000 * o)) // 1000000 AS sq
        |  FROM b),
        |g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(sum(p) AS BIGINT) AS sp, CAST(sum(o) AS BIGINT) AS so,
        |    CAST(sum(sq) AS BIGINT) AS sbr
        |  FROM r GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_b) AS BIGINT) AS n,
        |    CAST(sum(so) AS BIGINT) AS n_pos,
        |    CAST(sum(sbr) AS BIGINT) AS sbr_all,
        |    CAST(count(*) AS BIGINT) AS n_bins
        |  FROM g),
        |per AS (
        |  SELECT n, n_pos, n_bins, sbr_all, n_b,
        |    sp // n_b AS pbar, (1000000 * so) // n_b AS ebar,
        |    (1000000 * n_pos) // n AS obar
        |  FROM g, tot),
        |t2 AS (
        |  SELECT n, n_pos, n_bins, sbr_all, obar,
        |    n_b * (((pbar - ebar) * (pbar - ebar)) // 1000000) AS rel_term,
        |    n_b * (((ebar - obar) * (ebar - obar)) // 1000000) AS res_term
        |  FROM per)
        |SELECT n, n_pos, n_bins,
        |  CAST(sbr_all // n AS BIGINT) AS brier_micros,
        |  CAST(sum(rel_term) // n AS BIGINT) AS reliability_micros,
        |  CAST(sum(res_term) // n AS BIGINT) AS resolution_micros,
        |  CAST((obar * (1000000 - obar)) // 1000000 AS BIGINT)
        |    AS uncertainty_micros,
        |  CAST(obar AS BIGINT) AS base_rate_micros
        |FROM t2 GROUP BY n, n_pos, n_bins, sbr_all, obar""".stripMargin,
    "x144_bayes_average" ->
      """WITH b AS (
        |  SELECT source AS grp, CAST(n_chars AS BIGINT) AS v
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(v) AS BIGINT) AS s
        |      FROM b GROUP BY 1),
        |gm AS (SELECT CAST((1000000 * sum(s)) // sum(n) AS BIGINT)
        |         AS grand_mean_micros
        |       FROM g)
        |SELECT grp, n,
        |  CAST((1000000 * s) // n AS BIGINT) AS mean_micros,
        |  grand_mean_micros,
        |  CAST((1000000 * s + 25 * grand_mean_micros) // (n + 25)
        |    AS BIGINT) AS shrunk_micros
        |FROM g, gm ORDER BY grp""".stripMargin,
    // nDCG replay: per-group row_number ranking under the identical
    // tie-break, micro discount literals joined by rank, integer sums
    "x143_ndcg_at_k" ->
      """WITH b AS (
        |  SELECT source AS grp, n_chars AS s,
        |    CASE WHEN lang = 'en' THEN 2 WHEN lang = 'es' THEN 1
        |         ELSE 0 END AS g
        |  FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |d(rn, disc) AS (VALUES
        |  (1, 1000000), (2, 630929), (3, 500000), (4, 430676),
        |  (5, 386852), (6, 356207), (7, 333333), (8, 315464),
        |  (9, 301029), (10, 289064)),
        |r AS (
        |  SELECT grp, g, row_number() OVER (PARTITION BY grp
        |    ORDER BY s DESC, g DESC) AS rn
        |  FROM b),
        |dcg AS (
        |  SELECT grp, CAST(sum(g * disc) AS BIGINT) AS dcg_micros
        |  FROM r JOIN d USING (rn) WHERE rn <= 10 GROUP BY 1),
        |ri AS (
        |  SELECT grp, g, row_number() OVER (PARTITION BY grp
        |    ORDER BY g DESC, s DESC) AS rn
        |  FROM b),
        |idcg AS (
        |  SELECT grp, CAST(sum(g * disc) AS BIGINT) AS idcg_micros
        |  FROM ri JOIN d USING (rn) WHERE rn <= 10 GROUP BY 1)
        |SELECT dcg.grp, dcg_micros, idcg_micros,
        |  CASE WHEN idcg_micros = 0 THEN NULL
        |       ELSE (1000000 * dcg_micros) // idcg_micros
        |  END AS ndcg_micros
        |FROM dcg JOIN idcg USING (grp)
        |ORDER BY grp""".stripMargin,
    // conformal replay: per-group distinct-value cumulative pass, rank
    // ceil((n+1)*kpm/1000) as integer arithmetic, NULL past n
    "x140_conformal_threshold" ->
      """WITH b AS (
        |  SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM b
        |      GROUP BY 1, 2),
        |cum AS (
        |  SELECT grp, v, CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM g),
        |ns AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |r AS (SELECT grp, n,
        |        CAST(((n + 1) * 900 + 999) // 1000 AS BIGINT) AS rank
        |      FROM ns),
        |sel AS (
        |  SELECT r.grp, min(cum.v) AS value
        |  FROM r JOIN cum ON cum.grp = r.grp AND cum.cum >= r.rank
        |  GROUP BY 1)
        |SELECT r.grp, r.n, r.rank,
        |  CASE WHEN r.rank > r.n THEN NULL ELSE sel.value END AS threshold
        |FROM r LEFT JOIN sel ON sel.grp = r.grp
        |ORDER BY r.grp""".stripMargin,
    // winsorize replay: the two discrete order statistics per group
    // (ceil(n/20), ceil(19n/20)) off the same cumulative pass, then a
    // row-local clamp and exact integer sums
    "x141_winsorized_stats" ->
      """WITH b AS (
        |  SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |g AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM b
        |      GROUP BY 1, 2),
        |cum AS (
        |  SELECT grp, v, CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM g),
        |ns AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |bounds AS (
        |  SELECT ns.grp,
        |    (SELECT min(v) FROM cum WHERE cum.grp = ns.grp
        |     AND cum.cum >= (ns.n + 19) // 20) AS lo,
        |    (SELECT min(v) FROM cum WHERE cum.grp = ns.grp
        |     AND cum.cum >= (ns.n * 19 + 19) // 20) AS hi
        |  FROM ns)
        |SELECT b.grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(bo.lo) AS BIGINT) AS lo, CAST(max(bo.hi) AS BIGINT) AS hi,
        |  CAST(sum(CASE WHEN b.v < bo.lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN b.v > bo.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  CAST((1000000 * sum(greatest(bo.lo, least(bo.hi, b.v))))
        |    // count(*) AS BIGINT) AS wmean_micros
        |FROM b JOIN bounds bo ON bo.grp = b.grp
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // GK bound audit over the per-stratum cut (the q08d recipe): the
    // oracle pins the stratum set, n_docs, and the expectation that the
    // Spark-side rank checks hold; the kept rows stay engine-specific
    "x31g_quality_cut_approx" ->
      """WITH th AS (
        |  SELECT lang FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  TRUE AS threshold_in_bound, TRUE AS clean_cut
        |FROM documents d JOIN th USING (lang)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x31d_quality_cut" ->
      """WITH cut AS (
        |  SELECT lang, quantile_cont(n_chars, 0.7) AS cutoff
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, d.lang, n_chars
        |FROM documents d JOIN cut c ON d.lang = c.lang
        |WHERE n_chars >= cutoff
        |ORDER BY doc_id""".stripMargin,
    "x31c_stratified" ->
      s"""SELECT doc_id, lang
         |FROM documents
         |WHERE ${bucketSql("doc_id")} <
         |  (CASE WHEN lang = 'en' THEN 10 WHEN lang = 'es' THEN 50 ELSE 100 END)
         |ORDER BY doc_id""".stripMargin,
    "x32_seqpack" ->
      s"""$cumsumCte
         |SELECT doc_id, n_tokens, start_off,
         | CAST(start_off // 2048 AS BIGINT) AS bin
         |FROM c ORDER BY doc_id""".stripMargin,
    // same cumsum prefix; the per-bin id list is ordered by layout
    // position with the SAME doc_id tie-break Spark's struct sort applies
    // (zero-token docs tie on start_off), serialized to a comma-joined
    // string — the comparator can't sort/hash array cells
    "x32c_pack_bins" ->
      s"""$cumsumCte
         |SELECT CAST(start_off // 2048 AS BIGINT) AS bin,
         | count(*) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         | array_to_string(list(doc_id ORDER BY start_off, doc_id), ',') AS doc_ids
         |FROM c GROUP BY 1 ORDER BY bin""".stripMargin,
    // same cumsum prefix; each doc explodes over the bins its token
    // range [start_off, start_off+n) spans, and the within-bin segment
    // is pure greatest/least arithmetic both engines evaluate on BIGINTs
    "x32d_pack_segments" ->
      s"""$cumsumCte,
         |seg AS (
         |  SELECT doc_id, n_tokens, start_off,
         |    unnest(range(start_off // 2048,
         |                 (start_off + n_tokens - 1) // 2048 + 1)) AS bin
         |  FROM c WHERE n_tokens > 0)
         |SELECT bin, doc_id,
         | CAST(bin - start_off // 2048 AS INTEGER) AS seg_idx,
         | CAST(greatest(start_off, bin*2048) - bin*2048 AS BIGINT) AS seg_start,
         | CAST(least(start_off + n_tokens, bin*2048 + 2048)
         |      - greatest(start_off, bin*2048) AS BIGINT) AS seg_len,
         | CAST(greatest(start_off, bin*2048) - start_off AS BIGINT) AS tok_from
         |FROM seg ORDER BY bin, seg_start, doc_id""".stripMargin,
    // interleave: within-source content-addressed rank (the x31 hex
    // parse), pos = rank/weight as ONE IEEE division — exact in both
    // engines, so the double column itself hash-compares
    "x57_source_interleave" -> {
      s"""WITH wt(source, wt) AS (VALUES
         |    ('src1', 5), ('src2', 3), ('src3', 2)),
         |r AS (
         |  SELECT d.doc_id, d.source, w.wt, ${hash16Sql("d.doc_id")} AS hk
         |  FROM documents d JOIN wt w USING (source)),
         |k AS (
         |  SELECT doc_id, source, wt,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
         |      AS BIGINT) AS src_rank
         |  FROM r)
         |SELECT doc_id, source, src_rank,
         |  CAST(src_rank AS DOUBLE) / CAST(wt AS DOUBLE) AS pos
         |FROM k ORDER BY pos, source, doc_id""".stripMargin
    },
    // length-grouped batching: quantile thresholds (the x44 pattern),
    // row-local bucket, hash-ordered rank + integer-div batch number
    "x65_length_batches" -> {
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
         |      AS BIGINT) AS n_tokens
         |  FROM documents),
         |th AS (SELECT
         |  quantile_cont(n_tokens, 0.25) AS t1,
         |  quantile_cont(n_tokens, 0.5) AS t2,
         |  quantile_cont(n_tokens, 0.75) AS t3 FROM base),
         |b AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(CAST(n_tokens >= t1 AS INTEGER)
         |       + CAST(n_tokens >= t2 AS INTEGER)
         |       + CAST(n_tokens >= t3 AS INTEGER) AS INTEGER) AS len_bucket,
         |    ${hash16Sql("doc_id")} AS hk
         |  FROM base CROSS JOIN th),
         |r AS (
         |  SELECT doc_id, n_tokens, len_bucket,
         |    row_number() OVER (PARTITION BY len_bucket ORDER BY hk, doc_id) AS rn
         |  FROM b)
         |SELECT doc_id, n_tokens, len_bucket,
         |  CAST((rn - 1) // 8 AS BIGINT) AS batch_idx
         |FROM r ORDER BY doc_id""".stripMargin
    },
    // threshold sweep: one bucket aggregation, cumulative-from-top
    // window over the bucket relation, F1 as the single-division
    // identity 2·pk/(nk+pt) so rounding never compounds
    "x58_threshold_sweep" ->
      """WITH b AS (
        |  SELECT CAST(floor((n_chars / 100.0) / 1.0) AS BIGINT) AS threshold_bucket,
        |    (lang = 'en') AS pos
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |agg AS (
        |  SELECT threshold_bucket, count(*) AS n_bkt,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_bkt
        |  FROM b GROUP BY 1),
        |cum AS (
        |  SELECT threshold_bucket,
        |    CAST(sum(n_bkt) OVER win AS BIGINT) AS n_kept,
        |    CAST(sum(pos_bkt) OVER win AS BIGINT) AS pos_kept
        |  FROM agg
        |  WINDOW win AS (ORDER BY threshold_bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT CAST(sum(pos_bkt) AS BIGINT) AS pos_total FROM agg)
        |SELECT threshold_bucket, n_kept, pos_kept,
        |  round(CAST(pos_kept AS DOUBLE) / n_kept, 6) AS precision,
        |  CASE WHEN pos_total > 0
        |       THEN round(CAST(pos_kept AS DOUBLE) / pos_total, 6) END AS recall,
        |  CASE WHEN pos_kept > 0
        |       THEN round(2.0 * pos_kept / CAST(n_kept + pos_total AS DOUBLE), 6)
        |  END AS f1
        |FROM cum CROSS JOIN tot
        |ORDER BY threshold_bucket""".stripMargin)

  // shared by x32_seqpack and x32c_pack_bins — one spelling of the token
  // count + windowed cumsum, so the two oracles cannot desynchronize
  private lazy val cumsumCte =
    """WITH toks AS (
      |  SELECT doc_id,
      |   CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |   CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      |  FROM toks)""".stripMargin
}
