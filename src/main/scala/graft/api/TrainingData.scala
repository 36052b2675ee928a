package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, VectorOps}

/** Parametric, reusable forms of the training-data-pipeline operators —
  * the library surface a user points at THEIR corpus (any DataFrame with
  * an id and a text/embedding column), while `SparkEntry.queries` binds
  * the same implementations to the oracle-checked fixture tables.
  *
  * Everything is pure column algebra over the caller's plan: no
  * collect(), no fixture assumptions, schemas documented per method.
  * Scale characteristics are inherited from the query forms (see the
  * scaladoc in graft.ops): single hash-aggregations for exact dedup,
  * bucket-equi-joins for the LSH paths, partial-aggregating argmaxes.
  */
object TrainingData {

  /** Exact dedup groups by content hash →
    * (content_hash, canonical_id, n_copies); survivor = min(id). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // NULL content is excluded, not clustered: sha2(NULL) = NULL would
    // group every NULL-text doc into one "duplicate" cluster and a
    // consumer would drop documents that were never byte-identical
    // (equality is undefined for NULL) — screen NULLs separately
    docs.filter(col(textCol).isNotNull)
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** The `(doc_id, shh)` 3-shingle-hash relation of a corpus — the shared
    * input of both dedup paths. The exact and MinHash pipelines each
    * reference it on several plan branches, so for large corpora compute
    * it once, `.persist()` it, and use the `FromShingles` variants. */
  def shingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextFunctions.shingle_hashes(col(textCol), 3)).as("shh"))

  /** All near-duplicate pairs by exact 3-shingle Jaccard ≥ `threshold` →
    * (d1, d2, inter, jaccard), d1 < d2. Quadratic in co-occurring docs —
    * the verifier; see the MinHash path for the at-scale candidate cut.
    * Builds the shingle relation inline — cache it via [[shingles]] +
    * [[nearDupPairsFromShingles]] when running more than one dedup op. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    nearDupPairsFromShingles(shingles(docs, idCol, textCol), threshold)

  /** [[nearDupPairs]] over a pre-computed (and possibly cached)
    * `(doc_id, shh)` shingle relation — the reusable core. The per-doc
    * count relation `n` scales with the corpus, so it is joined WITHOUT a
    * broadcast hint: AQE broadcasts it when it is actually small and
    * degrades to a shuffle join when it is not (a forced broadcast of a
    * corpus-sized relation is a driver OOM at scale). */
  def nearDupPairsFromShingles(shingles: DataFrame, threshold: Double,
      pruneSingletons: Boolean = false): DataFrame = {
    // by name, not positional: a mis-shaped input fails analysis instead
    // of silently producing wrong pairs
    val sh = shingles.select(col("doc_id"), col("shh"))
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    // optional singleton prune: a shingle held by ONE doc cannot produce a
    // pair, and on a real text corpus most shingles ARE singletons — the
    // semi-join cuts the quadratic self-join's input to the co-occurring
    // minority (the per-doc denominators `n` still count ALL shingles).
    // Off by default: it costs one aggregation over the shingle relation,
    // which only repays when the singleton fraction is high (measured
    // 3.0→3.8 s on the synthetic fixture, whose 30-word vocabulary makes
    // every shingle co-occur — enable it for real corpora).
    val joinInput = if (!pruneSingletons) sh else sh.join(
      sh.groupBy(col("shh")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1).select(col("shh")),
      Seq("shh"), "left_semi")
    DedupOps.coocPairs(joinInput, "shh") // the one co-occurrence join, shared with LSH
      .join(n.as("n1"), col("d1") === col("n1.doc_id"))
      .join(n.as("n2"), col("d2") === col("n2.doc_id"))
      .withColumn("jac", col("inter").cast("double") /
        (col("n1.ns") + col("n2.ns") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("inter"), round(col("jac"), 6).as("jaccard"))
  }

  /** Sparse TF-IDF cosine near-dup pairs → (d1, d2, cos_sim), d1 < d2 —
    * the INVERTED-INDEX document-similarity path: docs are sparse
    * tf·idf vectors over their tokens, and pair dots come from an
    * equi-join on the token (posting lists), never an all-pairs scan.
    * Two scale levers built in: tokens with document frequency above
    * `maxDfFraction`·N are dropped from the vectors (their idf ≈ 0 and
    * their posting lists are the quadratic hot spots — the standard
    * stopword cut), and the remaining join is a plain shuffle equi-join.
    *
    * '''Behavior change (round 10):''' `maxDf` (default 1000) now caps
    * document frequency ABSOLUTELY alongside the relative
    * `maxDfFraction` cut. On corpora where `n_docs·maxDfFraction >
    * 1000`, mid-frequency tokens (df in (1000, N/2]) that previously
    * contributed weight are dropped, so pairs near the threshold can
    * disappear vs rounds ≤ 9. The cap is what bounds the posting-list
    * self-join at `maxDf·|postings|` (linear in the corpus; the
    * relative-only cut measured 776× at a 10× scale-up) — pass
    * `maxDf = Long.MaxValue` to opt out and restore the old semantics.
    *
    * Determinism design (the reason this is oracle-checkable while most
    * float similarity is not): idf is QUANTIZED to integer milli-units
    * once per token (`round(ln(N/df)·1000)` — a single libm call + round,
    * the x28d-established portable pair), so every cross-row sum — pair
    * dots and per-doc norms — is exact integer arithmetic, order- and
    * partitioning-invariant; the only remaining float ops are two
    * correctly-rounded sqrts and one division per emitted pair. Weights
    * are w = tf·idf_milli ≤ ~3e8 even at 10^12 docs, so Σw² stays well
    * inside a BIGINT for any real document. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDfFraction: Double = 0.5,
      maxDf: Long = 1000L): DataFrame =
    tfidfCosinePairsFromWeights(
      tfidfWeights(docs, idCol, textCol, maxDfFraction, maxDf), threshold)

  /** The `(doc_id, tok, w)` quantized tf·idf weight relation of a corpus
    * — [[tfidfCosinePairs]]'s build input, split out (like [[shingles]])
    * because the pair pipeline references it on THREE plan branches (the
    * per-doc norms and both posting-list join sides): compute it once,
    * `.persist()` it, and use [[tfidfCosinePairsFromWeights]] when the
    * corpus is large.
    *
    * '''Behavior change (round 10):''' the absolute `maxDf` cap (default
    * 1000) drops mid-frequency tokens the old relative-only cut kept —
    * see [[tfidfCosinePairs]] for the scale rationale and the
    * `maxDf = Long.MaxValue` opt-out. */
  def tfidfWeights(docs: DataFrame, idCol: String, textCol: String,
      maxDfFraction: Double = 0.5, maxDf: Long = 1000L): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // TWO df cuts, different jobs. The FRACTION cut is the tf-idf
    // stopword rule (a token in half the corpus carries no signal). The
    // ABSOLUTE cap is the scale bound: the downstream posting-list
    // self-join costs Σ_tok df², and a relative-only cut lets that grow
    // quadratically with corpus size (threshold grows with N, so
    // mid-frequency tokens keep 1%-of-N-long posting lists — measured
    // 776× at a 10× scale-up). Capping df absolutely bounds the join at
    // maxDf · |postings| — LINEAR in the corpus. Tokens above the cap
    // are ipso facto poor near-dup evidence (idf ≤ ln(N/maxDf) is the
    // corpus's lowest), so the cut sharpens precision as it bounds cost.
    tf.join(dfRel, "tok").crossJoin(broadcast(n))
      .filter(col("df") <= least(col("n_docs") * lit(maxDfFraction),
        lit(maxDf)))
      .select(col("doc_id"), col("tok"),
        (col("tf") * round(log(col("n_docs").cast("double") / col("df")) * 1000)
          .cast("long")).as("w"))
  }

  /** [[tfidfCosinePairs]] over a pre-computed (ideally persisted)
    * weight relation from [[tfidfWeights]]. */
  def tfidfCosinePairsFromWeights(weights: DataFrame,
      threshold: Double): DataFrame = {
    // select by NAME, not toDF positional rebind: a caller passing the
    // documented columns in a different order must fail analysis, not get
    // silently wrong pairs. Widen w BEFORE squaring: w ~ tf·idf_milli can
    // reach ~6e9 on a pathologically repetitive document, where w² >
    // Long.MaxValue and a BIGINT sum wraps negative → sqrt(negative) =
    // NaN → the pair silently vanishes. decimal(19)² accumulates as
    // decimal(38) — exact, matching the DuckDB oracle's automatic
    // HUGEINT widening.
    val w = weights.select(col("doc_id"), col("tok"),
      col("w").cast("decimal(19,0)").as("w"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("norm2"))
    w.as("a").join(w.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(sum(col("a.w") * col("b.w")).as("dotq"))
      .join(norms.as("n1"), col("d1") === col("n1.doc_id"))
      .join(norms.as("n2"), col("d2") === col("n2.doc_id"))
      .withColumn("cs", col("dotq").cast("double") /
        (sqrt(col("n1.norm2").cast("double")) * sqrt(col("n2.norm2").cast("double"))))
      .filter(col("cs") >= threshold)
      .select(col("d1"), col("d2"), round(col("cs"), 6).as("cos_sim"))
  }

  /** Per-document unigram language-model score →
    * (doc_id, n_tokens, avg_nll):
    * the mean negative log-probability of the document's tokens under the
    * corpus's own unigram distribution — the cheap perplexity-style
    * quality signal (gibberish and boilerplate sit at the two extremes).
    * Same integer-quantization determinism design as
    * [[tfidfCosinePairs]]: per-token surprisal is quantized to micro-nats
    * (`round(ln(total/count)·1e6)`, one libm call per DISTINCT token), the
    * per-doc sum is exact integer arithmetic, and one division at the end
    * turns it back into nats. Documents with zero tokens are absent from
    * the output (they have no distribution to score). */
  def unigramLmScores(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    unigramLmScoresFromCounts(tokenCounts(docs, idCol, textCol))

  /** The (doc_id, tok, tf) token-frequency relation both LM scorers (and
    * the bigram vocabulary) derive from — exposed so a caller scoring a
    * corpus more than once can build it once, persist it, and feed the
    * `FromCounts` variants instead of paying the tokenize+count pass per
    * scorer (Spark plans DataFrame reuse as duplicate lineage, so the
    * composed entry points re-scan by construction). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))

  /** [[unigramLmScores]] over a pre-built (ideally persisted)
    * [[tokenCounts]] relation — it is referenced on three plan branches
    * (per-token counts, corpus total, and the per-doc sum). Columns bind
    * by NAME (doc_id, tok, tf): a mis-shaped input fails analysis. */
  def unigramLmScoresFromCounts(tokenCounts: DataFrame): DataFrame = {
    val tf = tokenCounts.select(col("doc_id"), col("tok"), col("tf"))
    val counts = tf.groupBy(col("tok")).agg(sum(col("tf")).as("c"))
    val total = tf.agg(sum(col("tf")).as("total"))
    val q = counts.crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("total").cast("double") / col("c")) * 1e6)
          .cast("long").as("nllq"))
    tf.join(q, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("nllq")).as("s"))
      .select(col("doc_id"),
        col("n_tokens"),
        round(col("s").cast("double") /
          (col("n_tokens").cast("double") * 1e6), 6).as("avg_nll"))
  }

  /** Bigram language-model scoring with Laplace (add-one) smoothing —
    * the stronger perplexity-style quality filter next to
    * [[unigramLmScores]] (shuffled or keyword-stuffed text can look
    * natural to a unigram model but scores high bigram surprisal):
    * mean −ln P(v|u) over a document's bigram positions, with
    * P(v|u) = (c(u,v)+1) / (c(u)+V) under the corpus's own counts,
    * c(u) = Σ_v c(u,v) (occurrences of u in non-final position) and
    * V = corpus vocabulary size. → (doc_id, n_bigrams, avg_nll).
    * Documents with fewer than 2 tokens have no bigrams and drop —
    * screen them separately, like [[contaminationPairs]]'s short probes.
    *
    * Portability follows x28j: surprisal is quantized to integer
    * micro-nats once per distinct BIGRAM (ln paid per type, not per
    * occurrence), summed exactly, one division at the end. Scale shape:
    * count relations are hash aggregations on token keys, the per-bigram
    * surprisal attaches by equi-join, only the 1-row vocabulary total is
    * broadcast — nothing collects. */
  def bigramLmScores(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramLmScoresFromCounts(bigramCounts(docs, idCol, textCol),
      docs.select(explode(split(lower(col(textCol)), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .agg(count_distinct(col("tok")).as("v")))

  /** The (doc_id, bigram, bf) bigram-frequency relation
    * [[bigramLmScores]] derives from — the bigram twin of
    * [[tokenCounts]], for callers that persist and reuse it. */
  def bigramCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.TextFunctions.token_bigrams(col(textCol)))
          .as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("bf"))

  /** The corpus vocabulary size V as a 1-row (v) relation, derived from a
    * [[tokenCounts]] relation — equal to the direct scan's
    * `count_distinct(tok)` (same tokenization built it), so a persisted
    * token-count relation serves the bigram scorer's V without another
    * corpus pass. */
  def vocabularyFromCounts(tokenCounts: DataFrame): DataFrame =
    tokenCounts.select(col("tok")).agg(count_distinct(col("tok")).as("v"))

  /** [[bigramLmScores]] over a pre-built (ideally persisted)
    * [[bigramCounts]] relation plus a 1-row vocabulary-size relation
    * (from [[vocabularyFromCounts]] or any scan producing `v`). The
    * bigram relation is referenced on three plan branches. Columns bind
    * by NAME. */
  def bigramLmScoresFromCounts(bigramCounts: DataFrame,
      vocabSize: DataFrame): DataFrame = {
    val bg = bigramCounts.select(col("doc_id"), col("bigram"), col("bf"))
    val cuv = bg.groupBy(col("bigram")).agg(sum(col("bf")).as("c_uv"))
    val cu = cuv.groupBy(substring_index(col("bigram"), " ", 1).as("u"))
      .agg(sum(col("c_uv")).as("c_u"))
    val vocab = vocabSize.select(col("v"))
    val q = cuv.withColumn("u", substring_index(col("bigram"), " ", 1))
      .join(cu, "u")
      .crossJoin(broadcast(vocab))
      .select(col("bigram"),
        round(log((col("c_u") + col("v")).cast("double") / (col("c_uv") + 1))
          * 1e6).cast("long").as("nllq"))
    bg.join(q, "bigram")
      .groupBy(col("doc_id"))
      .agg(sum(col("bf")).as("n_bigrams"),
        sum(col("bf") * col("nllq")).as("s"))
      .select(col("doc_id"),
        col("n_bigrams"),
        round(col("s").cast("double") /
          (col("n_bigrams").cast("double") * 1e6), 6).as("avg_nll"))
  }

  /** One BPE merge applied to a space-joined symbol string, greedy
    * left-to-right non-overlapping (the training-time rule): a fold over
    * the symbols seeded with the first — when the running string's last
    * symbol is `l` and the next is `r` they fuse, and the fused symbol
    * re-enters as the new tail (so "a a a" under (a,a) → "aa a", and a
    * later (aa,a) would take it to "aaa"). Seed-with-first matches
    * DuckDB's `list_reduce`, which is how the oracle replays it. */
  private def applyBpeMerge(syms: Column, l: String, r: String): Column = {
    val lr = l + r
    val parts0 = split(syms, " ")
    aggregate(slice(parts0, lit(2), size(parts0) - 1),
      element_at(parts0, 1),
      (acc, x) => {
        val parts = split(acc, " ")
        when(element_at(parts, -1) === lit(l) && x === lit(r),
          when(size(parts) === 1, lit(lr))
            .otherwise(concat(
              concat_ws(" ", slice(parts, lit(1), size(parts) - 1)),
              lit(" " + lr))))
          .otherwise(concat(acc, lit(" "), x))
      })
  }

  /** Adjacent-symbol pair counts over a `(word, wcount, syms)` vocabulary
    * → (lhs, rhs, cnt), weighted by word frequency — the relation each
    * BPE training round takes its argmax from. */
  private def bpePairCounts(words: DataFrame): DataFrame = {
    val parts = split(col("syms"), " ")
    words
      .filter(size(parts) > 1)
      .select(col("wcount"),
        explode(transform(sequence(lit(1), size(parts) - 1),
          j => struct(element_at(parts, j).as("lhs"),
            element_at(parts, j + 1).as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("wcount")).as("cnt"))
  }

  /** The character-level seed segmentation of a word: its characters
    * space-joined ("hello" → "h e l l o"). */
  private def charSyms(word: Column): Column =
    concat_ws(" ", transform(sequence(lit(1), length(word)),
      i => word.substr(i, lit(1))))

  /** Distributed BPE tokenizer TRAINING — learn the merge table from the
    * corpus itself (not just apply a fixed one): tokenize, build the
    * (word, wcount, char-split syms) vocabulary relation, then
    * `numMerges` rounds of: count adjacent symbol pairs weighted by word
    * frequency, take the most frequent pair (ties → lexicographically
    * smallest (lhs, rhs) — deterministic), and fuse it throughout the
    * vocabulary with the greedy left-to-right rule of [[applyBpeMerge]].
    * Stops early if no pair remains. Returns (merges, vocab):
    * `merges` = the learned (iter, lhs, rhs, pair_count) table — a
    * literal relation, iter 1-based in learn order; `vocab` = (word,
    * wcount, syms), every corpus word's training-consistent segmentation
    * under the full merge sequence ([[bpeSegment]] consumes it).
    *
    * Scale shape: training iterates over the VOCABULARY relation (distinct
    * words — bounded by vocabulary growth laws, not corpus size; the
    * classic word-count formulation of BPE), each round is one hash
    * aggregation plus a row-local fold, and only the single argmax row
    * reaches the driver per round — the corpus itself is scanned exactly
    * once, to build the word counts. Each round's vocabulary is persisted
    * and its parent released, so lineage stays one fold deep. */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
      numMerges: Int = 8): (DataFrame, DataFrame) = {
    require(numMerges >= 1, s"numMerges must be positive: $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .withColumn("syms", charSyms(col("word")))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val top = bpePairCounts(words)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is one symbol already
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((merges.size + 1, l, r, c))
        val next = words.withColumn("syms", applyBpeMerge(col("syms"), l, r))
          .persist()
        next.count() // materialize before releasing the parent round
        words.unpersist()
        words = next
      }
    }
    // training's own caching released on exit (the API never leaks
    // persisted relations — PerAppCache doc); the vocab's lineage is
    // self-contained (the merges are driver-side literals), so persist
    // the returned relation yourself before consuming it repeatedly
    words.unpersist()
    (merges.toSeq.toDF("iter", "lhs", "rhs", "pair_count"), words)
  }

  /** One left-to-right fusing pass applying a whole BATCH of merge pairs:
    * at each position, if (last-symbol-of-acc, next) matches ANY pair in
    * `ps`, fuse it. Callers guarantee the batch is symbol-disjoint (see
    * [[bpeTrainBatched]]), so at most one pair can match a position and
    * fusing one pair can neither create nor destroy another's adjacency —
    * the pass is order-independent. */
  private def applyBpeMergeBatch(syms: Column,
      ps: Seq[(String, String)]): Column = {
    val parts0 = split(syms, " ")
    aggregate(slice(parts0, lit(2), size(parts0) - 1),
      element_at(parts0, 1),
      (acc, x) => {
        val parts = split(acc, " ")
        def fused(lr: String) =
          when(size(parts) === 1, lit(lr))
            .otherwise(concat(
              concat_ws(" ", slice(parts, lit(1), size(parts) - 1)),
              lit(" " + lr)))
        ps.foldRight(concat(acc, lit(" "), x): Column) {
          case ((l, r), els) =>
            when(element_at(parts, -1) === lit(l) && x === lit(r), fused(l + r))
              .otherwise(els)
        }
      })
  }

  /** BATCHED distributed BPE training — the at-scale form of [[bpeTrain]].
    * Sequential BPE takes one full pair-count job + driver barrier PER
    * MERGE; at a production vocabulary (32k merges) that is 32k sequential
    * Spark jobs. This variant learns up to `batch` merges per barrier:
    * each ROUND counts adjacent pairs once, then greedily selects up to
    * `batch` pairs in (count desc, lhs, rhs) order subject to SYMBOL
    * DISJOINTNESS — a candidate is admitted only if its lhs, rhs, AND its
    * fused symbol lhs+rhs are all unused by previously admitted pairs of
    * the round — and fuses the whole batch in ONE vocabulary pass
    * ([[applyBpeMergeBatch]]).
    *
    * Why disjointness: it makes the single fusing pass confluent. No
    * admitted pair shares a symbol with another, so fusing one cannot
    * create, destroy, or chain into another's adjacency (the fused symbol
    * is also reserved, so a batch can never merge into this round's own
    * output). The result is deterministic and exactly replayable — the
    * x28q oracle re-runs the same greedy selection and batch fold in SQL.
    * Batched selection is count-stale WITHIN a round by construction
    * (counts are not refreshed between the batch's merges) — the standard
    * large-vocab BPE trade (cf. fastBPE/tokenizers batching) — but the
    * algorithm is still fully deterministic given (rounds, batch).
    *
    * Barriers: `rounds` total (vs `numMerges` for [[bpeTrain]]), each one
    * hash aggregation; only ≤ `batch`·16 candidate rows (re-fetched with a
    * growing limit in the rare conflict-heavy case) reach the driver per
    * round. Returns (merges, vocab): merges = (round, rank, lhs, rhs,
    * pair_count) in admission order; vocab = (word, wcount, syms) under
    * the full learned sequence. */
  def bpeTrainBatched(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int = 4, batch: Int = 4): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be positive: $rounds")
    require(batch >= 1, s"batch must be positive: $batch")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .withColumn("syms", charSyms(col("word")))
      .persist()
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String, Long)]
    var exhausted = false
    var round = 1
    while (round <= rounds && !exhausted) {
      val pairs = bpePairCounts(words)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
      // Greedy symbol-disjoint selection over the sorted pair relation.
      // Only a bounded prefix is collected; if the prefix is exhausted
      // before the batch fills AND more rows could exist past the limit,
      // the prefix is re-fetched larger — selection is then identical to
      // a scan of the full relation (skipped candidates block nothing).
      def select(limit: Int): Option[Seq[(String, String, Long)]] = {
        val top = pairs.limit(limit).collect()
        val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        val it = top.iterator
        while (sel.size < batch && it.hasNext) {
          val row = it.next()
          val (l, r) = (row.getString(0), row.getString(1))
          if (!used(l) && !used(r) && !used(l + r)) {
            sel += ((l, r, row.getLong(2)))
            used ++= Seq(l, r, l + r)
          }
        }
        if (sel.size == batch || top.length < limit) Some(sel.toSeq) else None
      }
      var limit = batch * 16
      var picked = select(limit)
      while (picked.isEmpty) { limit *= 4; picked = select(limit) }
      val sel = picked.get
      if (sel.isEmpty) exhausted = true
      else {
        sel.zipWithIndex.foreach { case ((l, r, c), i) =>
          merges += ((round, i + 1, l, r, c))
        }
        val next = words
          .withColumn("syms",
            applyBpeMergeBatch(col("syms"), sel.map(p => (p._1, p._2))))
          .persist()
        next.count() // materialize before releasing the parent round
        words.unpersist()
        words = next
      }
      round += 1
    }
    words.unpersist()
    (merges.toSeq.toDF("round", "rank", "lhs", "rhs", "pair_count"), words)
  }

  /** Tokenizer-quality analysis of a corpus under a trained BPE
    * vocabulary → (doc_id, n_toks, n_pieces, n_oov, fertility, oov_frac):
    *  - `fertility`: learned pieces per word token — the tokenizer-QA
    *    headline (high fertility = the vocab splinters this document's
    *    language/domain, and it will cost that many more sequence
    *    positions at training time);
    *  - `oov_frac`: fraction of word tokens absent from the trained
    *    vocabulary (they fall back to character segmentation, exactly as
    *    [[bpeSegment]] treats them).
    * Meaningful when `vocab` was trained on a DIFFERENT split than the
    * corpus being scored (a vocab trained on the same corpus contains
    * every word by construction). Same plan shape as [[bpeSegment]]:
    * one equi-join on the word, one per-doc aggregation; documents with
    * zero tokens are absent. */
  def tokenizerStats(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(vocab.select(col("word"), col("syms")), Seq("word"), "left")
      .select(col("doc_id"),
        col("syms").isNull.as("oov"),
        size(split(coalesce(col("syms"), charSyms(col("word"))), " ")).as("pieces"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("pieces")).cast("long").as("n_pieces"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_toks"), col("n_pieces"), col("n_oov"),
        round(col("n_pieces").cast("double") / col("n_toks"), 6).as("fertility"),
        round(col("n_oov").cast("double") / col("n_toks"), 6).as("oov_frac"))

  /** Segment a corpus with a trained vocabulary ([[bpeTrain]]'s second
    * result): each token looks up its training-consistent segmentation by
    * equi-join on the word (tokens absent from the vocabulary fall back
    * to their character segmentation — no merges learned for them), and
    * the pieces reassemble in document order → (doc_id, n_pieces,
    * pieces). Documents with zero tokens are absent from the output. */
  def bpeSegment(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(lower(col(textCol)), " ")))
      .toDF("doc_id", "pos", "word")
      .filter(col("word") =!= "")
      .join(vocab.select(col("word"), col("syms")), Seq("word"), "left")
      .withColumn("syms", coalesce(col("syms"), charSyms(col("word"))))
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("syms")))),
          _.getField("syms"))).as("pieces"))
      .select(col("doc_id"),
        size(split(col("pieces"), " ")).as("n_pieces"),
        col("pieces"))

  /** C4-style LINE filtering — the boilerplate-removal pass of a web-crawl
    * pipeline (Raffel et al. 2020 §2.2 drop short/menu/junk lines before
    * any document-level scoring): split `textCol` on newlines, KEEP lines
    * with ≥ `minTokens` whitespace tokens and none of the `banned`
    * substrings (case-sensitive), reassemble survivors in order →
    * (doc_id, n_lines, n_kept, clean_text, n_chars_clean). Documents
    * whose every line is dropped stay in the output with clean_text = ''
    * — dropping whole documents is a separate policy decision
    * (compose with a filter on n_kept).
    *
    * Scale shape: pure row-local column algebra — no shuffle, no UDF, a
    * 100 TB corpus maps through it at scan speed. */
  def filterLines(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 5, banned: Seq[String] = Seq.empty): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l => {
      val ntok = size(filter(split(l, " "), t => t =!= ""))
      banned.foldLeft(ntok >= minTokens) { (acc, b) => acc && !l.contains(b) }
    })
    docs.select(col(idCol).as("doc_id"),
      size(lines).as("n_lines"),
      size(kept).as("n_kept"),
      concat_ws("\n", kept).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")))
  }

  /** Within-document repeated-line dedup — the CCNet/C4 page-cleaning
    * step next to [[filterLines]] (menus, cookie banners, and share
    * prompts repeat VERBATIM inside a page; cross-page repetition is
    * [[spanDedup]]'s job) → (doc_id, n_lines, n_kept, clean_text,
    * n_chars_clean), first occurrence kept, order preserved. Row-local
    * column algebra (the first-occurrence test is an array_position
    * scan, quadratic in the LINES OF ONE DOCUMENT — bounded by page
    * size, not corpus size); no shuffle, scan-speed at 100 TB. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines,
      (l, i) => array_position(lines, l) === (i + 1).cast("long"))
    docs.select(col(idCol).as("doc_id"),
      size(lines).as("n_lines"),
      size(kept).as("n_kept"),
      concat_ws("\n", kept).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")))
  }

  /** Gopher-style rule-based document filtering (Rae et al. 2021 §A1.1):
    * per-rule boolean reject flags PLUS the final keep verdict →
    * (doc_id, n_toks, mean_wlen, alpha_ratio, n_stop_hits, r_len,
    * r_wordlen, r_alpha, r_stop, keep). The flags are the per-rule
    * reject counters a curation report publishes — a pipeline that only
    * wants the survivors composes with `.filter(col("keep"))`.
    * Zero-token docs flag every rule (coalesce — NULL ratios must not
    * un-flag). Pure row-local column algebra: scan-speed at 100 TB. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxTokens: Int = 80,
      minMeanWordLen: Double = 4.0, maxMeanWordLen: Double = 5.0,
      minAlphaRatio: Double = 0.8, minStopHits: Int = 2,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")): DataFrame =
    docs
      .withColumn("tk", DedupOps.tokens(col(textCol)))
      .withColumn("n_toks", size(col("tk")))
      .withColumn("mean_wlen",
        when(col("n_toks") > 0,
          round(aggregate(transform(col("tk"), t => length(t).cast("long")),
            lit(0L), (acc, x) => acc + x).cast("double") / col("n_toks"), 6)))
      .withColumn("alpha_ratio",
        when(col("n_toks") > 0,
          round(size(filter(col("tk"), t => t.rlike("[a-z]")))
            .cast("double") / col("n_toks"), 6)))
      .withColumn("n_stop_hits",
        size(array_intersect(array_distinct(col("tk")),
          array(stopwords.map(lit): _*))))
      .withColumn("r_len",
        col("n_toks") < minTokens || col("n_toks") > maxTokens)
      .withColumn("r_wordlen",
        coalesce(col("mean_wlen") < minMeanWordLen
          || col("mean_wlen") > maxMeanWordLen, lit(true)))
      .withColumn("r_alpha",
        coalesce(col("alpha_ratio") < minAlphaRatio, lit(true)))
      .withColumn("r_stop", col("n_stop_hits") < minStopHits)
      .withColumn("keep",
        !(col("r_len") || col("r_wordlen") || col("r_alpha") || col("r_stop")))
      .select(col(idCol).as("doc_id"), col("n_toks"), col("mean_wlen"),
        col("alpha_ratio"), col("n_stop_hits"), col("r_len"),
        col("r_wordlen"), col("r_alpha"), col("r_stop"), col("keep"))

  /** Curriculum bucketing: every row assigned to one of `nBuckets`
    * difficulty bins of `scoreCol` (bucket 1 = lowest scores). The
    * thresholds are the exact (nBuckets−1) interior quantiles from ONE
    * aggregation, broadcast back; the bucket is a row-local comparison
    * count — never a data-sized single-partition ntile window. Ties at a
    * threshold land in the same bucket (what a threshold curriculum
    * wants). Input schema preserved, `bucket` appended. Rows whose score
    * is NULL get a NULL bucket (made explicit below rather than left to
    * NULL-comparison propagation) — callers wanting them binned or
    * dropped filter first. */
  def difficultyBuckets(scores: DataFrame, scoreCol: String,
      nBuckets: Int = 4): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    require(scores.columns.contains(scoreCol), s"no column $scoreCol")
    // the appended column and the threshold attach columns must not
    // collide with the input schema — the final select would otherwise
    // duplicate or ambiguate silently
    val reserved = "bucket" +: (1 until nBuckets).map(i => s"__t$i")
    val clash = scores.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty, s"input columns collide with reserved names: $clash")
    val ps = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    // thresholds are compared UNROUNDED: an interpolated quantile either
    // equals a data value exactly (g = 0 — both engines compute it with
    // zero float error) or lies strictly between two adjacent data
    // values, where a last-ulp cross-engine difference cannot move any
    // value across it. Rounding the threshold to 6 dp MANUFACTURED
    // boundaries: on the sf0.1 fixture the two engines' round-6 t3
    // already differed by 1e-6 (HALF_UP on the decimal expansion vs
    // multiply-based rounding) — the ORACLES.md §5b trap, caught in
    // round-8 review before any fixture doc landed on it.
    val th = scores
      .agg(expr(s"percentile(`$scoreCol`, array(${ps.mkString("D, ")}D))").as("ts"))
      .select((1 until nBuckets).map(i =>
        element_at(col("ts"), i).as(s"__t$i")): _*)
    val bucket = when(col(scoreCol).isNotNull,
      (1 until nBuckets)
        .map(i => (col(scoreCol) > col(s"__t$i")).cast("int"))
        .foldLeft(lit(1))(_ + _))
    scores.crossJoin(broadcast(th))
      .withColumn("bucket", bucket)
      .select(scores.columns.map(col) :+ col("bucket"): _*)
  }

  /** Corpus-wide kNN graph over an IVF clustering: every vector's top-k
    * nearest neighbors among its own cluster's members → (vec_id, n_id,
    * cid, sim, rank). The all-points structure semantic dedup and
    * diversity sampling consume; candidates come from an equi-join on
    * the cluster id, never a global cross join (cluster-boundary
    * neighbors are missed by design — the standard IVF recall trade). */
  def knnGraph(corpus: DataFrame, idCol: String, embCol: String, k: Int,
      nClusters: Int = 16): DataFrame = {
    val e = corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    VectorOps.knnGraphCore(
      VectorOps.ivfAssign(e,
        VectorOps.ivfCentroids(corpus.sparkSession, e, nClusters)), k)
  }

  /** Prototype-distance pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws", arXiv 2206.14486): rank every vector within its
    * cluster by cosine to the cluster prototype and keep the
    * `keepPerCluster` FARTHEST — pruning easy prototypical examples
    * first is the data-pruning recipe that beats random keep at scale →
    * (vec_id, cid, sim_micro, rank, kept), rank 1 = farthest. Zero
    * vectors have no direction, hence no prototype distance: excluded.
    * Builds its own deterministic IVF index; callers with a standing
    * index use the VectorOps core directly. */
  def prototypePrune(corpus: DataFrame, idCol: String, embCol: String,
      keepPerCluster: Int, nClusters: Int = 16): DataFrame = {
    require(keepPerCluster >= 1, s"keepPerCluster must be >= 1: $keepPerCluster")
    val e = corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val cent = VectorOps.ivfCentroids(corpus.sparkSession, e, nClusters)
    VectorOps.prototypePruneCore(VectorOps.ivfAssign(e, cent), cent,
      keepPerCluster)
  }

  /** Incremental ANN-index maintenance: assign `newBatch` to centroids
    * FROZEN from `oldCorpus` (no Lloyd re-run) → (vec_id, cid, n_old,
    * n_new). One broadcast-centroids scan of only the arriving batch;
    * re-clustering is deferred to an offline rebuild cadence. */
  def ivfAppend(oldCorpus: DataFrame, newBatch: DataFrame, idCol: String,
      embCol: String, nClusters: Int = 16): DataFrame =
    VectorOps.ivfAppendCore(oldCorpus.sparkSession,
      oldCorpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
      newBatch.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
      nClusters)

  /** T5/UL2-style span corruption — the denoising-objective data op:
    * deterministic masked spans replaced by numbered sentinel tokens in
    * the input, emitted with their contents in the target →
    * (doc_id, n_toks, n_spans, input_text, target_text).
    *
    * Spans are CONTENT-ADDRESSED, not random: a per-document phase
    * h = sha-derived 16-bit hash of the id mod `period` shifts a
    * fixed-cadence mask (a span of `spanLen` tokens starts wherever
    * (pos + h) % period == 0) — every engine, run, and partitioning
    * produces the same corruption, which is what makes the pairs
    * cacheable and the op oracle-checkable; the corruption RATE
    * (spanLen/period ≈ 28 % at the 2/7 default, vs T5's 15 %) is the
    * tunable. Sentinels are `<extra_id_k>` numbered 0-based by span
    * ordinal within the document (`<extra_id_0>` is always the first
    * span) — the exact T5 vocabulary convention, so a downstream
    * tokenizer's fixed sentinel vocab maps directly. Pure row-local
    * column algebra — scan-speed at 100 TB. `spanLen < period` keeps
    * spans non-overlapping by construction. */
  // ---- shared span-corruption machinery (spanCorrupt + ul2Mixture) ----
  // Every helper operates over the STAGED `tk` (token array) and `seq`
  // (1..n index array) columns its caller binds first (the x28i lesson:
  // an inline array referenced per element re-evaluates per element).
  // One copy so a sentinel/cadence change cannot silently diverge the
  // two objectives (the T5 0-based renumbering had to touch both).
  private def sentinel(k: Column): Column =
    concat(lit("<extra_id_"), k.cast("int").cast("string"), lit(">"))
  private def spanIsStart(i: Column, h: Column, period: Int): Column =
    (i + h) % period === 0
  private def spanInTail(i: Column, h: Column, period: Int,
      spanLen: Int): Column =
    (1 until spanLen).map(j => i > j && ((i - j + h) % period === 0))
      .foldLeft(lit(false))(_ || _)
  private def spanStarts(h: Column, period: Int): Column =
    filter(col("seq"), i => spanIsStart(i, h, period))
  // sentinel ordinal = the start's 1-based position in `starts`, shifted
  // to the 0-based T5 numbering
  private def spanInputText(starts: Column, h: Column, period: Int,
      spanLen: Int): Column =
    concat_ws(" ",
      transform(filter(col("seq"), i => !spanInTail(i, h, period, spanLen)),
        i => when(spanIsStart(i, h, period),
            sentinel(array_position(starts, i) - 1))
          .otherwise(element_at(col("tk"), i))))
  private def spanTargetText(starts: Column, spanLen: Int): Column =
    concat_ws(" ",
      transform(starts, (p, k) =>
        concat(sentinel(k), lit(" "),
          array_join(slice(col("tk"), p, lit(spanLen)), " "))))

  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
      period: Int = 7, spanLen: Int = 2): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(spanLen >= 1 && spanLen < period,
      s"spanLen must be in [1, period), got $spanLen (period $period)")
    docs
      .select(col(idCol).as("doc_id"), DedupOps.tokens(col(textCol)).as("tk"),
        (hash16(concat(col(idCol).cast("string"), lit("#spanc"))) % period).as("h"))
      .withColumn("n", size(col("tk")))
      .withColumn("seq",
        when(col("n") >= 1, sequence(lit(1), col("n")))
          .otherwise(array().cast("array<int>")))
      .withColumn("starts", spanStarts(col("h"), period))
      .select(col("doc_id"), col("n").as("n_toks"),
        size(col("starts")).as("n_spans"),
        spanInputText(col("starts"), col("h"), period, spanLen)
          .as("input_text"),
        spanTargetText(col("starts"), spanLen).as("target_text"))
  }

  /** UL2-style mixture-of-denoisers (Tay et al. 2022, arXiv 2205.05131):
    * each document is assigned ONE denoising objective by its content
    * address and emitted as an (input, target) pair with the UL2 mode
    * token prepended → (doc_id, denoiser, n_toks, input_text,
    * target_text):
    *  - R (regular): [[spanCorrupt]]'s cadence at period 7, span 2
    *    (~28 % corruption);
    *  - X (extreme): the same construction at period 4, span 2 (~50 %
    *    masked — the heavy-corruption objective);
    *  - S (sequential): prefix-LM — one content-addressed cut; the
    *    prefix with a single trailing `<extra_id_0>` is the input, the
    *    suffix (behind the same sentinel) is the target.
    * Assignment, both phases, and the S-cut derive from independent
    * sha-salted hashes of the id, so the mixture is deterministic across
    * engines/runs/partitionings — the [[spanCorrupt]]/[[fimTransform]]
    * property that makes the pairs cacheable and oracle-checkable.
    * Sentinels are 0-based by span ordinal (the T5 convention).
    *
    * Row-local column algebra, scan-speed at 100 TB. Per-branch span
    * lists are STAGED as columns (the x28i lesson: an inline array
    * referenced per element re-evaluates per element), and the CASE
    * evaluates only the assigned branch per row. */
  def ul2Mixture(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // "" -> NULL so concat_ws drops the slot (no dangling space on the
    // empty-document degenerate in either engine)
    def nz(c: Column): Column = when(c =!= "", c)
    def salted(salt: String): Column =
      hash16(concat(col(idCol).cast("string"), lit(salt)))
    docs
      .select(col(idCol).as("doc_id"), DedupOps.tokens(col(textCol)).as("tk"),
        (salted("#ul2") % 3).as("tag"), salted("#ul2p").as("hh"),
        salted("#ul2c").as("hc"))
      .withColumn("n", size(col("tk")))
      .withColumn("seq",
        when(col("n") >= 1, sequence(lit(1), col("n")))
          .otherwise(array().cast("array<int>")))
      .withColumn("hr", col("hh") % 7)
      .withColumn("hx", col("hh") % 4)
      .withColumn("cut", col("hc") % (col("n") + 1))
      .withColumn("sr", spanStarts(col("hr"), 7))
      .withColumn("sx", spanStarts(col("hx"), 4))
      .select(col("doc_id"),
        when(col("tag") === 0, lit("R"))
          .when(col("tag") === 1, lit("S"))
          .otherwise(lit("X")).as("denoiser"),
        col("n").as("n_toks"),
        when(col("tag") === 0,
            concat_ws(" ", lit("[R]"),
              nz(spanInputText(col("sr"), col("hr"), 7, 2))))
          .when(col("tag") === 1,
            concat_ws(" ", lit("[S]"),
              when(col("cut") > 0,
                array_join(slice(col("tk"), lit(1), col("cut")), " ")),
              sentinel(lit(0))))
          .otherwise(
            concat_ws(" ", lit("[X]"),
              nz(spanInputText(col("sx"), col("hx"), 4, 2))))
          .as("input_text"),
        when(col("tag") === 0, spanTargetText(col("sr"), 2))
          .when(col("tag") === 1,
            concat_ws(" ", sentinel(lit(0)),
              when(col("cut") < col("n"),
                array_join(
                  slice(col("tk"), col("cut") + 1, col("n") - col("cut")),
                  " "))))
          .otherwise(spanTargetText(col("sx"), 2))
          .as("target_text"))
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022 — the
    * code-model pretraining objective): each document split at two
    * content-addressed token cuts into prefix/middle/suffix and emitted
    * in PSM sentinel order →
    * (doc_id, n_toks, cut1, cut2, fim_text). Cuts derive from two
    * independent sha-derived hashes of the id (mod n+1 → 0..n), so the
    * transformation is deterministic across engines/runs/partitionings
    * — same property as [[spanCorrupt]], same reason. Documents with
    * n = 0 emit the bare sentinel skeleton (cuts 0/0). Row-local column
    * algebra; scan-speed at 100 TB. */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // both hashes computed in the FIRST select, while idCol still
    // resolves — a later col(idCol) reference would break for any id
    // column not literally named doc_id
    def h(salt: String): Column =
      hash16(concat(col(idCol).cast("string"), lit(salt)))
    docs
      .select(col(idCol).as("doc_id"), DedupOps.tokens(col(textCol)).as("tk"),
        h("#fim1").as("h1"), h("#fim2").as("h2"))
      .withColumn("n", size(col("tk")))
      .withColumn("c1", least(col("h1") % (col("n") + 1), col("h2") % (col("n") + 1)))
      .withColumn("c2", greatest(col("h1") % (col("n") + 1), col("h2") % (col("n") + 1)))
      .select(col("doc_id"), col("n").as("n_toks"),
        col("c1").as("cut1"), col("c2").as("cut2"),
        // empty segments become NULL so concat_ws skips them — single
        // spacing between sentinels whichever segments are empty (and
        // the cross-engine behavior is identical: DuckDB's
        // array_to_string of an empty list is already NULL)
        concat_ws(" ",
          lit("<fim_prefix>"),
          seg(col("tk"), lit(1), col("c1")),
          lit("<fim_suffix>"),
          seg(col("tk"), col("c2") + 1, col("n") - col("c2")),
          lit("<fim_middle>"),
          seg(col("tk"), col("c1") + 1, col("c2") - col("c1")))
          .as("fim_text"))
  }

  /** `length`-bounded token segment as a joined string, NULL when empty. */
  private def seg(tk: Column, start: Column, length: Column): Column = {
    val s = when(length > 0, slice(tk, start, length))
      .otherwise(array().cast("array<string>"))
    when(size(s) > 0, array_join(s, " "))
  }

  /** Cross-corpus contamination pairs — the DECONTAMINATION op: for each
    * probe document (an eval/benchmark set), training documents whose
    * 3-shingle overlap CONTAINS a `threshold` fraction of the probe's
    * shingles → (probe_id, corpus_id, inter, containment), where
    * `containment = |shingles(probe) ∩ shingles(corpus)| / |shingles(probe)|`.
    * Containment, not Jaccard: a short benchmark question pasted into a
    * long training document has low Jaccard but containment ≈ 1 — exactly
    * the leak being hunted. Bipartite equi-join on 8-byte shingle hashes
    * (never all-pairs); at 100 TB the probe side is the small one and
    * AQE broadcasts it. NOTE: probes shorter than 3 tokens have no
    * 3-shingles and are DROPPED from the scan — screen such probes with
    * exact/substring matching separately rather than assuming coverage. */
  def contaminationPairs(corpus: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val cs = shingles(corpus, idCol, textCol).toDF("corpus_id", "shh")
    val ps = shingles(probes, idCol, textCol).toDF("probe_id", "shh")
    containmentFromShingles(cs, ps, threshold)
  }

  /** The containment join+filter shared by the exact and Bloom-prefiltered
    * contamination scans: `cs` = (corpus_id, shh), `ps` = (probe_id, shh). */
  private def containmentFromShingles(cs: DataFrame, ps: DataFrame,
      threshold: Double): DataFrame = {
    val pn = ps.groupBy(col("probe_id")).agg(count(lit(1)).as("ns"))
    ps.join(cs, "shh")
      .groupBy(col("probe_id"), col("corpus_id"))
      .agg(count(lit(1)).as("inter"))
      .join(pn, "probe_id")
      .withColumn("containment", col("inter").cast("double") / col("ns"))
      .filter(col("containment") >= threshold)
      .select(col("probe_id"), col("corpus_id"), col("inter"),
        round(col("containment"), 6).as("containment"))
  }

  /** [[contaminationPairs]] with a Bloom-filter prefilter on the corpus
    * side — the 100 TB shape of decontamination. The probe shingle set is
    * summarized into an `fpp`-rate Bloom filter (~10 bits/shingle at 1%,
    * vs 64 bits/hash for an exact set), and the corpus shingle scan is
    * filtered through Spark's native codegen'd `BloomFilterMightContain`
    * BEFORE the aggregation shuffle, so only matching shingles (plus the
    * fpp tail) leave the scan stage instead of the whole corpus's shingle
    * relation. False positives are then eliminated by the exact equi-join
    * on `shh`, so the result EQUALS [[contaminationPairs]] — same oracle.
    *
    * The probe shingle relation is referenced three times (count, Bloom
    * build, verify join) — pass a PERSISTED relation to
    * [[contaminationPairsBloomFromShingles]] so tokenize+shingle+hash
    * runs once, not per branch (the r5 bench paid it 3×); this one-shot
    * form builds the relations inline and leaves caching to the caller
    * (persisting internally would stack a new cached copy per call). */
  def contaminationPairsBloom(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      fpp: Double = 0.01): DataFrame =
    contaminationPairsBloomFromShingles(
      shingles(corpus, idCol, textCol),
      shingles(probes, idCol, textCol), threshold, fpp)

  /** [[contaminationPairsBloom]] over pre-computed `(doc_id, shh)` shingle
    * relations (as returned by [[shingles]]; columns are matched by NAME)
    * — the probe side should be persisted (it is scanned for
    * the count, the Bloom build, and the verify join; it is the small
    * side by construction — an eval/benchmark set). */
  def contaminationPairsBloomFromShingles(corpusShingles: DataFrame,
      probeShingles: DataFrame, threshold: Double,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.classic.GraftBridge
    import org.apache.spark.sql.types.BinaryType
    val ps = probeShingles.select(col("doc_id").as("probe_id"), col("shh"))
    val nShingles = math.max(ps.count(), 1L)
    val bf = ps.stat.bloomFilter("shh", nShingles, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // stat.bloomFilter inserts long columns via putLong, and
    // BloomFilterMightContain probes via mightContainLong — the same
    // hash pair, so build and probe agree by construction.
    val mightContain = GraftBridge.column(BloomFilterMightContain(
      Literal(bytes, BinaryType), GraftBridge.expression(col("shh"))))
    val cs = corpusShingles.select(col("doc_id").as("corpus_id"), col("shh"))
      .filter(mightContain)
    containmentFromShingles(cs, ps, threshold)
  }

  /** MinHash+LSH near-duplicate pairs — the AT-SCALE form of
    * [[nearDupPairs]]: 16 permutations banded 4×4 make same-bucket
    * candidates (an equi-join, not all-pairs); candidates verify with
    * exact Jaccard ≥ `threshold`. Recall < 1 for pairs near the
    * threshold (the banding curve); equals [[nearDupPairs]] when recall
    * is 1, asserted on the fixtures in LlmOpsSpec. Builds the shingle
    * relation inline — see [[shingles]] to precompute and cache it. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    minhashNearDupPairsFromShingles(shingles(docs, idCol, textCol), threshold)

  /** [[minhashNearDupPairs]] over a pre-computed (ideally persisted)
    * `(doc_id, shh)` shingle relation — the signature/banding/verify
    * pipeline references it on four plan branches. */
  def minhashNearDupPairsFromShingles(shingles: DataFrame,
      threshold: Double): DataFrame =
    DedupOps.minhashPairsFromShingles(shingles, threshold)

  /** SRP-LSH approximate top-k — the AT-SCALE form of [[cosineTopK]]:
    * candidates share a sign-random-projection bucket in any of `tables`
    * hash tables, then re-rank exactly → (q_id, c_id, sim, rank). */
  def annTopKLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, tables: Int = 8, bits: Int = 4): DataFrame =
    VectorOps.annLshCore(
      corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
      queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb")),
      k, tables, bits)

  /** IVF approximate top-k — the clustered at-scale form of
    * [[cosineTopK]]: a deterministic integer-space k-means coarse
    * quantizer (seeded by the lowest-id vectors; dimension inferred from
    * them) assigns every corpus vector to a cluster; queries probe their
    * `nProbe` nearest clusters and re-rank exactly →
    * (q_id, c_id, sim, rank). Only the nClusters×dims centroid table ever
    * reaches the driver. */
  def annTopKIvf(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nClusters: Int = 16, nProbe: Int = 4): DataFrame =
    VectorOps.annIvfCore(corpus.sparkSession,
      corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
      queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb")),
      k, nClusters, nProbe)

  /** SRP-LSH embedding near-dup pairs — the AT-SCALE form of the exact
    * all-pairs cosine scan: candidates share a sign-random-projection
    * bucket in any of `tables` hash tables (an equi-join on the bucket
    * key), then verify with exact cosine ≥ `threshold` →
    * (v1, v2, sim), v1 < v2. Every emitted pair is exact-verified; recall
    * dips below 1 only near the threshold (SRP collision curve). */
  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
      threshold: Double, tables: Int = 8, bits: Int = 4): DataFrame =
    VectorOps.embNearDupLshCore(
      corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
      threshold, tables, bits)

  /** Bucket-bit sizing for [[embeddingNearDupPairs]] at a given corpus
    * size: SRP-LSH candidate cost is Σ bucket², so FIXED bits go
    * quadratic as the corpus grows (occupancy ∝ n/2^bits → pairs ∝
    * n²/2^bits; measured 173× at a 10× scale-up under the old fixture's
    * pinned 4 bits). Sizing bits so the EXPECTED bucket occupancy stays
    * at `targetBucket` keeps candidates ≈ tables·n·targetBucket/2 —
    * linear in n. Recall at the same threshold drops as bits grow (the
    * SRP collision curve p = (1 − θ/π)^bits); compensate with more
    * tables when recall matters more than cost.
    *
    * Returns the smallest b ≥ 4 with targetBucket·2^b ≥ corpusSize,
    * derived in PURE INTEGER arithmetic (shift-and-compare, capped at
    * 56): the registered x26f query feeds a corpus COUNT through this
    * function and its DuckDB oracle replays the same derivation, so a
    * float ceil(log2(n/target)) — where two libms can disagree by one
    * ulp exactly at the power-of-two boundaries and flip the bucket
    * geometry — would be an oracle hash breaker, not a style choice. */
  def srpBitsFor(corpusSize: Long, targetBucket: Long = 64L): Int = {
    require(corpusSize > 0 && targetBucket > 0)
    var b = 0
    while (b < 56 && (targetBucket << b) < corpusSize) b += 1
    math.max(4, b)
  }

  /** PQ + ADC approximate top-k — the memory-bandwidth form of
    * [[cosineTopK]] for corpora where even int8 vectors exceed the scan
    * budget: `m` per-subspace deterministic k-means codebooks (the
    * [[annTopKIvf]] build recipe per subspace) compress every corpus
    * vector to `m` codes; queries scan CODES via per-query lookup tables
    * of partial dots (quantized to integer micro-units so the
    * cross-subspace ADC sum is order-invariant), and the ADC top-`refine`
    * candidates re-rank by exact cosine → (q_id, c_id, sim, rank) with
    * EXACT sims — recall, not precision, is the approximation. Codebooks
    * minimize reconstruction L2; ADC scores are inner products against
    * the reconstructions (the FAISS IVF-PQ decomposition).
    *
    * The default m = 8 stays the most permissive divisor choice (dims
    * must divide by m); the 64-dim fixture ships m = 16 (4-dim
    * subspaces, recall@5 ≥ 0.8 vs ~0.6 at 8×8) — callers whose dims
    * divide by 16 should prefer it. */
  def annTopKPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, m: Int = 8, codesPerSubspace: Int = 16,
      refine: Int = 0): DataFrame = {
    val e = corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val refineN = if (refine > 0) refine else 4 * k
    val (books, dims) =
      VectorOps.pqCodebooks(corpus.sparkSession, e, m, codesPerSubspace)
    val codes = VectorOps.pqAssign(VectorOps.subvecs(e, m, dims), books)
      .select(col("vec_id"), col("m"), col("cid"))
    VectorOps.pqProbe(q, e, books, codes, m, dims, k, refineN)
  }

  /** IVF-PQ approximate top-k — [[annTopKIvf]] and [[annTopKPq]]
    * composed, the complete FAISS-style recipe for corpora where neither
    * alone suffices: the IVF coarse quantizer bounds WHICH vectors a
    * query reads (the `nProbe` probed clusters' inverted lists, an
    * equi-join on the cluster id), and PQ bounds WHAT is read per vector
    * (`m` small codes ADC-scored via a broadcast per-query LUT); the ADC
    * top-`refine` re-rank by exact cosine → (q_id, c_id, sim, rank) with
    * EXACT sims. At 100 TB the probed fraction `nProbe/nClusters` bounds
    * every post-probe relation.
    *
    * '''The default is RESIDUAL encoding''' (the full FAISS IVFPQ
    * recipe): PQ codebooks train on coarse-quantizer residuals v − c(v),
    * spending their 16 entries per subspace on the within-cluster detail
    * that actually ranks candidates — the measured recall floor is ≥0.7
    * vs ~0.5 for the naive composition (LlmOpsSpec floors for x27h vs
    * x27f), at the cost of one broadcast join + row-local subtraction at
    * index-build time and one extra broadcast integer per probed
    * (query, cluster) at search time. Pass `residual = false` only when
    * the raw-vector codebooks are wanted deliberately (e.g. one code
    * table shared with a standalone [[annTopKPq]] index) and the recall
    * cost is understood. */
  def annTopKIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nClusters: Int = 16, nProbe: Int = 4,
      m: Int = 8, codesPerSubspace: Int = 16, refine: Int = 0,
      residual: Boolean = true): DataFrame = {
    val s = corpus.sparkSession
    val e = corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val refineN = if (refine > 0) refine else 4 * k
    val centroids = VectorOps.ivfCentroids(s, e, nClusters)
    val indexed = VectorOps.ivfAssign(e, centroids)
    if (residual) {
      // residual corpus: componentwise DOUBLE subtraction cast back to
      // float — the x27h operation sequence, bit-equal to its oracle
      val resCorpus = indexed.join(broadcast(centroids), "cid")
        .select(col("vec_id"),
          zip_with(col("embedding"), col("cemb"),
            (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
            .as("embedding"))
      val (books, dims) = VectorOps.pqCodebooks(s, resCorpus, m, codesPerSubspace)
      val codes = VectorOps.pqAssign(VectorOps.subvecs(resCorpus, m, dims), books)
        .select(col("vec_id"), col("m"), col("cid"))
      VectorOps.ivfPqResidualProbe(q, centroids, indexed, books, codes,
        m, dims, k, nProbe, refineN)
    } else {
      val (books, dims) = VectorOps.pqCodebooks(s, e, m, codesPerSubspace)
      val codes = VectorOps.pqAssign(VectorOps.subvecs(e, m, dims), books)
        .select(col("vec_id"), col("m"), col("cid"))
      VectorOps.ivfPqProbe(q, centroids, indexed,
        books, codes, m, dims, k, nProbe, refineN)
    }
  }

  /** SemDeDup-style semantic dedup, removed set: cluster the corpus with
    * the deterministic IVF k-means ([[annTopKIvf]]'s coarse quantizer),
    * then scan for near-duplicates WITHIN clusters only — a vector is
    * removed when some lower-id vector in its cluster has cosine ≥
    * `threshold` (keep-lowest-id greedy) → (vec_id, cid, max_sim).
    *
    * The clustering is what makes this the 100 TB form of an all-pairs
    * cosine dedup: the pair scan is an equi-join on the cluster id, so
    * total work is Σ|cluster|² — bounded by growing `nClusters` with the
    * corpus (target |cluster| constant) — never n². [SemDeDup: semantic
    * dedup via k-means + within-cluster cosine, Abbas et al. 2023.] */
  def semanticDedupRemoved(corpus: DataFrame, idCol: String, embCol: String,
      threshold: Double, nClusters: Int = 16): DataFrame = {
    val e = corpus.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    VectorOps.semanticDedupRemovedCore(
      VectorOps.ivfAssign(e,
        VectorOps.ivfCentroids(corpus.sparkSession, e, nClusters)), threshold)
  }

  /** [[semanticDedupRemoved]]'s complement: the KEPT corpus, every input
    * column preserved — the form a pipeline feeds downstream. */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
      threshold: Double, nClusters: Int = 16): DataFrame =
    corpus.join(
      semanticDedupRemoved(corpus, idCol, embCol, threshold, nClusters)
        .select(col("vec_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Connected components over an undirected (src, dst) pair DataFrame →
    * (id, label); label = min id of the component. Iterative min-label
    * propagation (rounds = component diameter); throws past `maxRounds`
    * rather than returning partially-merged clusters — raise it for
    * chain-shaped graphs. */
  def dedupClusters(pairs: DataFrame, maxRounds: Int = 50): DataFrame =
    DedupOps.connectedComponents(pairs, maxRounds)

  /** Per-document token statistics →
    * (id, n_tokens, n_distinct, n_chars, avg_tok_len). */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = DedupOps.tokens(col(textCol))
    docs.select(col(idCol),
      size(tk).as("n_tokens"),
      size(array_distinct(tk)).as("n_distinct"),
      length(col(textCol)).as("n_chars"),
      when(size(tk) > 0,
        round(aggregate(transform(tk, t => length(t)), lit(0),
          (acc, x) => acc + x).cast("double") / size(tk), 4))
        .otherwise(lit(null).cast("double")).as("avg_tok_len"))
  }

  /** Whitespace-insensitive content fingerprint → (id, fingerprint):
    * 16-hex prefix of sha256 over the token-normalized text. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      substring(sha2(array_join(DedupOps.tokens(col(textCol)), " "), 256), 1, 16)
        .as("fingerprint"))

  /** Brute-force cosine top-k: for each query row, the k most similar
    * corpus rows (excluding itself) → (q_id, c_id, sim, rank). Exact and
    * embarrassingly parallel (queries broadcast); use the SRP-LSH / IVF
    * query forms when the query set is large. Self-exclusion is BY ID
    * (like every search form here): query ids are assumed drawn from the
    * corpus id space — querying with a foreign id space whose values
    * collide with corpus ids would wrongly exclude those corpus rows, so
    * remap ids (e.g. negate) when the spaces are disjoint. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    // widen the streamed corpus side: a small parquet scan is one
    // partition = one task doing ALL the O(|Q|·n) similarity math
    VectorOps.fanOut(c).crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(cosine_sim(col("q_emb"), col("c_emb")), 6))
      // a zero vector has no direction: cosine_sim returns NULL there,
      // and NULL-sim rows must not occupy ranks (sim.desc sorts NULLs
      // ahead of every real similarity — a zero-vector query would get k
      // confidently-ranked neighbors with sim = NULL)
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** Brute-force Euclidean top-k → (q_id, c_id, dist2, rank): nearest
    * corpus rows by SQUARED L2 distance (monotone in L2 — the root is
    * never needed for ranking), the magnitude-sensitive complement of
    * [[cosineTopK]] (cosine ignores vector length; L2 does not — for
    * unnormalized embeddings the two genuinely disagree, which is what
    * makes fusing them via [[reciprocalRankFusion]] informative).
    * dist² expands to dot(q,q) − 2·dot(q,c) + dot(c,c): three native
    * fused dot products with identical left-to-right fold order in both
    * engines, rounded once to 6 decimals so ranking ties are
    * engine-identical; ties break by id. Same self-exclusion-by-id and
    * broadcast-query fan-out contract as [[cosineTopK]]. */
  def l2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("dist2"), col("c_id"))
    VectorOps.fanOut(c).crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("dist2", round(
        dot_product(col("q_emb"), col("q_emb"))
          - lit(2d) * dot_product(col("q_emb"), col("c_emb"))
          + dot_product(col("c_emb"), col("c_emb")), 6))
      .filter(col("dist2").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("dist2"), col("rank"))
  }

  /** Symmetric int8 quantization → (id, scale_r, q1..q4, n_sat, mse);
    * `dims` is the embedding length. NOTE: all-zero vectors have no scale
    * and are DROPPED from the output — anti-join against the input ids to
    * surface them as unquantizable rather than assuming row parity. */
  def quantizeInt8(embeddings: DataFrame, idCol: String, embCol: String,
      dims: Int): DataFrame = {
    // the q1..q4 sample columns index the array directly (ANSI throws on
    // out-of-range element_at)
    require(dims >= 4, s"quantizeInt8 requires dims >= 4, got $dims")
    def dx(x: Column) = x.cast("double")
    def q(x: Column) = floor(dx(x) / col("scale") + lit(0.5))
    withInt8Scale(embeddings, idCol, embCol)
      .select(col(idCol),
        round(col("scale"), 6).as("scale_r"),
        q(element_at(col("embedding"), 1)).cast("int").as("q1"),
        q(element_at(col("embedding"), 2)).cast("int").as("q2"),
        q(element_at(col("embedding"), 3)).cast("int").as("q3"),
        q(element_at(col("embedding"), 4)).cast("int").as("q4"),
        size(filter(col("embedding"), x => abs(q(x)) >= 127)).as("n_sat"),
        round(aggregate(transform(col("embedding"),
            x => (dx(x) - q(x) * col("scale")) * (dx(x) - q(x) * col("scale"))),
          lit(0.0), (a, x) => a + x) / lit(dims.toDouble), 9).as("mse"))
  }

  /** Content-addressed bucket 0..99 of an id: the first 16 bits of
    * sha256(id-as-string) parsed via ascii() arithmetic — both engines
    * emit lowercase hex and agree on ascii(), so the bucket (not just its
    * distribution) is oracle-checkable. Stable across runs, partitioning,
    * and engines — the property `randomSplit`/`sample` lack. */
  private def hash16(id: Column): Column = {
    val hex = sha2(id.cast("string"), 256)
    def d(i: Int): Column = {
      val a = ascii(substring(hex, i, 1))
      when(a >= 97, a - 87).otherwise(a - 48) // 'a'..'f' → 10..15, else 0..9
    }
    ((d(1) * 16 + d(2)) * 16 + d(3)) * 16 + d(4)
  }

  private[graft] def hashBucket(id: Column): Column = hash16(id) % 100

  /** Content-addressed unit-interval coordinate u(id) ∈ [0, 1) at 16-bit
    * resolution — [[hashBucket]]'s finer sibling for per-row keep
    * probabilities. Exact in both engines: a 16-bit integer divided by
    * 65536 is a dyadic rational a double represents exactly. */
  private[graft] def hashUnit(id: Column): Column =
    hash16(id).cast("double") / 65536.0

  /** Deterministic split assignment → input columns + (bucket, split).
    * `weights` are (name, percent) summing to 100; a row's split is the
    * first range its content bucket falls in. Pure row function: no
    * shuffle, no state, prunes nothing — compose with [[hashSample]] for
    * subsetting. */
  def deterministicSplit(docs: DataFrame, idCol: String,
      weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum == 100,
      s"split weights must sum to 100: $weights")
    weights.foreach { case (name, w) =>
      require(w >= 0 && w <= 100, s"split weight out of range: $name -> $w")
    }
    val cum = weights.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val b = hashBucket(col(idCol))
    val split = weights.zip(cum).init.foldRight(
      lit(weights.last._1): Column) { case (((name, _), hi), other) =>
      when(b < hi, name).otherwise(other)
    }
    // NULL ids are dropped, matching hashSample/weightedHashSample: a
    // NULL bucket would fall through every `when(b < hi)` branch and
    // silently land every malformed row in the LAST split
    docs.filter(col(idCol).isNotNull)
      .withColumn("bucket", b.cast("int")).withColumn("split", split)
  }

  /** Deterministic `percent`% sample: rows whose content bucket falls
    * below the cutoff. A filter — composes with any downstream operator
    * and costs one hash per row. */
  def hashSample(docs: DataFrame, idCol: String, percent: Int): DataFrame = {
    require(percent >= 0 && percent <= 100, s"percent out of range: $percent")
    docs.filter(hashBucket(col(idCol)) < percent)
  }

  /** Per-ROW-probability sample: keep a row iff u(id) < its `weightCol`
    * value — document-granularity reweighting (temperature sampling,
    * quality-proportional retention, per-domain decay curves) where the
    * keep probability is a DATA column rather than [[stratifiedHashSample]]'s
    * per-stratum constant. weight ≤ 0 drops the row, ≥ 1 keeps it, NULL
    * drops (comparison is null → filter false). Deterministic and nested
    * like the other content-addressed samplers: raising a row's weight can
    * only ever ADD it to the kept set. Pure row filter — no shuffle.
    *
    * The unit coordinate is SALTED (`id + "#w"`) so it is independent of
    * [[hashBucket]]'s coordinate: composing this with
    * [[hashSample]]/[[deterministicSplit]]/[[stratifiedHashSample]] on the
    * same id column multiplies keep probabilities, instead of the
    * min/overlap semantics a shared coordinate silently produces. */
  def weightedHashSample(docs: DataFrame, idCol: String,
      weightCol: String): DataFrame =
    docs.filter(
      hashUnit(concat(col(idCol).cast("string"), lit("#w"))) < col(weightCol))

  /** X39 — deterministic corpus MIXTURE by token budget: sample each
    * source so its expected token contribution is `weight ×
    * budgetTokens` (capped at the source's full size) — the data-mixing
    * step that turns per-domain weights ("50% web, 30% code, 20%
    * papers") into a concrete kept set. Per-source keep probability is
    * `p_s = min(1, weight_s · budget / tokens_s)` from ONE token
    * aggregation broadcast back; the keep decision is the
    * content-addressed unit coordinate (salted `"#mix"`, independent of
    * the other samplers), so the mixture is stable across runs and
    * partitioning, NESTED in the budget (a larger budget keeps a
    * superset), and embarrassingly parallel — one aggregation plus a
    * pure row filter, no per-source shuffles. Sources absent from
    * `weights` get weight 0 and are dropped. Output: every input
    * column plus `n_tokens`, so the kept mixture composes directly
    * with packing/layout downstream. */
  def mixByTokenBudget(docs: DataFrame, sourceCol: String, idCol: String,
      textCol: String, weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive: $budgetTokens")
    weights.foreach { case (s, w) =>
      require(w >= 0 && w <= 1, s"mixture weight out of [0,1]: $s -> $w")
    }
    Seq("n_tokens", "tot", "p").foreach(c => require(!docs.columns.contains(c),
      s"mixByTokenBudget uses a helper column named $c; rename yours first"))
    val toks = docs.withColumn("n_tokens",
      coalesce(size(filter(split(lower(col(textCol)), " "), t => t =!= "")), lit(0))
        .cast("long"))
    val totals = toks.groupBy(col(sourceCol)).agg(sum(col("n_tokens")).as("tot"))
    val w = weights.foldLeft(lit(0.0): Column) { case (other, (s, wt)) =>
      when(col(sourceCol) === s, lit(wt)).otherwise(other)
    }
    // strata cardinality is small by construction (domains/sources) —
    // same unconditional broadcast contract as topFractionByStrata.
    // tot == 0 guard: a source with no tokens divides to NULL, and
    // least(1.0, NULL) would skip the NULL and keep EVERY row of the
    // source (including weight-0 sources the doc promises are dropped) —
    // a tokenless source contributes nothing, so it drops
    toks.join(broadcast(totals), Seq(sourceCol))
      .withColumn("p", when(col("tot") > 0,
        least(lit(1.0), w * lit(budgetTokens.toDouble) / col("tot")))
        .otherwise(lit(0.0)))
      .filter(hashUnit(concat(col(idCol).cast("string"), lit("#mix"))) < col("p"))
      .select(docs.columns.map(col) :+ col("n_tokens"): _*)
  }

  /** [[mixByTokenBudget]] WITHOUT the p ≤ 1 cap: a source whose token
    * target exceeds its size is REPLICATED — every document appears
    * `floor(p)` times and once more when its unit coordinate falls under
    * `frac(p)`, so the expected contribution is exactly `weight ×
    * budgetTokens` even above 1 epoch (the "3 epochs of Wikipedia"
    * mechanism of published data recipes). Output: every input column
    * plus `n_tokens` and an `epoch` (0-based copy index) for downstream
    * shuffling/interleaving; expected copies per doc = p, deterministic
    * in the same salted coordinate as [[mixByTokenBudget]] (at p ≤ 1
    * the kept id set is identical — the cap only changes whether extra
    * epochs exist). The replication is a row-local
    * `explode(sequence(...))` after the same single broadcast
    * aggregation — still no per-source shuffle. */
  def mixByTokenBudgetReplicated(docs: DataFrame, sourceCol: String,
      idCol: String, textCol: String, weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive: $budgetTokens")
    weights.foreach { case (s, w) =>
      require(w >= 0, s"mixture weight must be >= 0: $s -> $w")
    }
    Seq("n_tokens", "tot", "p", "n_copies", "epoch").foreach(c =>
      require(!docs.columns.contains(c),
        s"mixByTokenBudgetReplicated uses a helper column named $c; rename yours first"))
    val toks = docs.withColumn("n_tokens",
      coalesce(size(filter(split(lower(col(textCol)), " "), t => t =!= "")), lit(0))
        .cast("long"))
    val totals = toks.groupBy(col(sourceCol)).agg(sum(col("n_tokens")).as("tot"))
    val w = weights.foldLeft(lit(0.0): Column) { case (other, (s, wt)) =>
      when(col(sourceCol) === s, lit(wt)).otherwise(other)
    }
    toks.join(broadcast(totals), Seq(sourceCol))
      // same tot == 0 guard as the capped form (kept-set parity at p <= 1)
      .withColumn("p", when(col("tot") > 0,
        w * lit(budgetTokens.toDouble) / col("tot")).otherwise(lit(0.0)))
      .withColumn("n_copies",
        floor(col("p")).cast("long") +
          when(hashUnit(concat(col(idCol).cast("string"), lit("#mix"))) <
            col("p") - floor(col("p")), 1L).otherwise(0L))
      // sequence(0, -1) would default to step -1, so the zero-copy rows
      // must be gone before the explode
      .filter(col("n_copies") > 0)
      .select(docs.columns.map(col) :+ col("n_tokens") :+
        explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"): _*)
  }

  /** Temperature-weighted corpus mixture ("α-sampling", the multilingual
    * training staple): source s samples with weight ∝ tot_s^α, so
    * p_doc = budget · tot^α / (Σ_s tot^α · tot). At α = 1 every document
    * keeps with the same probability (the natural distribution); at α = 0
    * every SOURCE gets an equal token share regardless of size; between,
    * low-resource sources are upsampled. Unlike
    * [[mixByTokenBudgetReplicated]] the weights are derived FROM the data
    * — no explicit weight map. Replication semantics and output shape
    * (input columns + n_tokens + 0-based `epoch`) follow
    * mixByTokenBudgetReplicated, under an independent content-addressed
    * coordinate (salt '#temp', so composing with the '#mix' operators
    * multiplies probabilities). A tokenless source has no temperature
    * weight and contributes nothing.
    *
    * Determinism: the Σ_s tot^α accumulates via an ordered fold
    * (collect → sort by source → left fold) so the float sum has ONE
    * defined value, not a partitioning-dependent one. α = 0.5 computes
    * tot^α with sqrt, which IEEE 754 requires correctly rounded — the
    * derived weights are then bit-identical in ANY engine (what lets the
    * x39c fixture hash-verify the whole derivation); other α go through
    * pow (deterministic per engine, but libm pow is not guaranteed
    * bit-equal across engines). */
  def mixByTemperature(docs: DataFrame, sourceCol: String, idCol: String,
      textCol: String, alpha: Double, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive: $budgetTokens")
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1]: $alpha")
    Seq("n_tokens", "tot", "rt", "ssum", "p", "n_copies", "epoch").foreach(c =>
      require(!docs.columns.contains(c),
        s"mixByTemperature uses a helper column named $c; rename yours first"))
    val toks = docs.withColumn("n_tokens",
      coalesce(size(filter(split(lower(col(textCol)), " "), t => t =!= "")), lit(0))
        .cast("long"))
    val totals = toks.groupBy(col(sourceCol)).agg(sum(col("n_tokens")).as("tot"))
    val roots = totals.filter(col("tot") > 0).withColumn("rt",
      if (alpha == 0.5) sqrt(col("tot").cast("double"))
      else pow(col("tot").cast("double"), lit(alpha)))
    // Σ rt attaches as a WINDOW over the (tiny, post-aggregation) weight
    // relation rather than a separate aggregation: a second branch off
    // `totals` would re-run the whole corpus scan+agg just to fold ~20
    // scalars (Spark plans DataFrame reuse as duplicate lineage). The
    // constant partition key is fine — the windowed relation is
    // |sources| rows by construction.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    val withSum = roots.withColumn("ssum",
      aggregate(
        array_sort(collect_list(struct(col(sourceCol).as("s"),
          col("rt").as("rt"))).over(w)),
        lit(0.0), (acc, x) => acc + x.getField("rt")))
    // same unconditional small-strata broadcast contract as the other
    // mixtures
    toks.join(broadcast(withSum), Seq(sourceCol))
      .withColumn("p",
        (lit(budgetTokens.toDouble) * col("rt")) / (col("ssum") * col("tot")))
      .withColumn("n_copies",
        floor(col("p")).cast("long") +
          when(hashUnit(concat(col(idCol).cast("string"), lit("#temp"))) <
            col("p") - floor(col("p")), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(docs.columns.map(col) :+ col("n_tokens") :+
        explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"): _*)
  }

  /** Deterministic STRATIFIED sample: per-stratum keep-percentages (the
    * corpus-rebalancing op — e.g. downsample a dominant language while
    * keeping rare ones whole). Strata absent from `percents` keep
    * `defaultPercent`. Same content-addressed bucket as [[hashSample]], so
    * the kept set is stable across runs/partitioning AND nested: a
    * stratum's 20% sample is a subset of its 50% sample. Pure row filter —
    * no shuffle, no per-group state, unlike `sampleBy`'s seeded Bernoulli
    * draw (which re-rolls per partitioning). */
  def stratifiedHashSample(docs: DataFrame, idCol: String, strataCol: String,
      percents: Map[String, Int], defaultPercent: Int = 100): DataFrame = {
    (percents.values.toSeq :+ defaultPercent).foreach(p =>
      require(p >= 0 && p <= 100, s"percent out of range: $p"))
    val cutoff = percents.foldLeft(lit(defaultPercent): Column) {
      case (other, (stratum, pct)) =>
        when(col(strataCol) === stratum, pct).otherwise(other)
    }
    docs.filter(hashBucket(col(idCol)) < cutoff)
  }

  /** Symmetric int8 quantization in its STORAGE form →
    * (id, scale_r, qvec: binary), one byte per dimension — 4× smaller
    * than float32, the layout a 100 TB quantized vector corpus actually
    * persists (the columnar [[quantizeInt8]] reports sample values and
    * error stats; this packs the full vector). Same half-up rule, so the
    * packed bytes equal quantizeInt8's q values; all-zero vectors are
    * dropped (no scale). Round-trip via
    * [[graft.functions.VectorFunctions.unpack_int8]]. */
  def quantizeInt8Packed(embeddings: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    import graft.functions.VectorFunctions.pack_int8
    withInt8Scale(embeddings, idCol, embCol)
      .select(col(idCol),
        round(col("scale"), 6).as("scale_r"),
        pack_int8(col("embedding"), col("scale")).as("qvec"))
  }

  /** (id, embedding, absmax, scale) for vectors with a positive absmax —
    * the ONE place the symmetric-quantizer scale rule lives, shared by
    * the columnar and packed forms (their byte-level agreement is
    * asserted in VectorExprSpec, so the rule must not fork). */
  private def withInt8Scale(embeddings: DataFrame, idCol: String,
      embCol: String): DataFrame =
    embeddings
      .select(col(idCol), col(embCol).as("embedding"),
        aggregate(col(embCol), lit(0.0),
          (a, x) => greatest(a, abs(x.cast("double")))).as("absmax"))
      .filter(col("absmax") > 0)
      .withColumn("scale", col("absmax") / lit(127.0))

  /** Brute-force cosine top-k over an int8-PACKED corpus (from
    * [[quantizeInt8Packed]]): scans 1 byte/dim in integer arithmetic —
    * the memory-bandwidth-bound form of [[cosineTopK]] for a quantized
    * 100 TB corpus. Scales cancel in cosine, so only the packed bytes are
    * needed → (q_id, c_id, sim, rank). */
  def cosineTopKPacked(packed: DataFrame, queries: DataFrame, idCol: String,
      qvecCol: String, k: Int): DataFrame =
    VectorOps.packedCosineTopK(
      packed.select(col(idCol), col(qvecCol)),
      queries.select(col(idCol).as("q_id"), col(qvecCol).as("q_qvec")), k)

  /** Weighted corpus mixture — the data-mixing step of a training
    * pipeline: each source keeps `percent`% of its rows (deterministic
    * content-addressed sampling, see [[hashSample]]) and contributes them
    * under a `source` provenance column → union of (source, id, text).
    * Re-running with a higher percent for one source yields a SUPERSET of
    * that source's previous contribution (nested samples), so mixtures
    * can be re-weighted incrementally without resampling churn. Every
    * source must expose the id/text columns under the SAME `idCol` /
    * `textCol` names; for sources whose columns are named differently,
    * use the per-source-selector overload. */
  def mixCorpora(sources: Seq[(String, DataFrame, Int)], idCol: String,
      textCol: String): DataFrame =
    mixCorporaBy(sources.map { case (name, docs, percent) =>
      (name, docs, percent, idCol, textCol)
    })

  /** As [[mixCorpora]], but each source carries its own (idCol, textCol)
    * selectors — (name, docs, percent, idCol, textCol) — so corpora with
    * different schemas mix without a rename pass. Output columns are
    * always (source, id, text). (Separate name, not an overload: both
    * signatures erase to `mixCorpora(Seq)`.) */
  def mixCorporaBy(sources: Seq[(String, DataFrame, Int, String, String)]): DataFrame = {
    require(sources.nonEmpty, "mixCorpora needs at least one source")
    require(sources.map(_._1).distinct.size == sources.size,
      s"duplicate source names: ${sources.map(_._1)}")
    sources.map { case (name, docs, percent, idCol, textCol) =>
      hashSample(docs.select(col(idCol), col(textCol)), idCol, percent)
        .select(lit(name).as("source"), col(idCol).as("id"),
          col(textCol).as("text"))
    }.reduce(_.unionByName(_))
  }

  /** Sequence packing — concatenate-and-chunk bin assignment for
    * training-batch construction: documents are laid out in `idCol`
    * order, token counts accumulate, and a document belongs to the bin
    * where its START offset lands: `bin = start_off div budgetTokens`
    * → (id, n_tokens, start_off, bin).
    *
    * The global running total is the scale-correct two-pass form (the
    * naive `Window.orderBy(id)` with no partition key funnels the corpus
    * through ONE task): pass 1 freezes approximate id-quantile boundaries
    * as literals (driver holds nBuckets-1 doubles, nothing else); pass 2
    * buckets rows by those literals (pure row function, deterministic
    * across recomputations), cumulative-sums INSIDE each bucket with a
    * partitioned window, and offsets buckets by the earlier buckets'
    * totals via a triangular join over the ≤nBuckets-row count relation.
    * Correct because the bucket id is monotone in id. Ids are compared in
    * double space for the quantile sketch — monotone even where doubles
    * round (ids beyond 2^53), since rounding is itself monotone; the id
    * column must be NUMERIC (enforced) so the bucket order and the
    * window's natural order agree, and ids must be UNIQUE (they are
    * document ids) — duplicate ids would make the cumsum's tie order, and
    * thus start_off, undefined. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    require(docs.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"packSequences needs a numeric id column (got " +
        s"${docs.schema(idCol).dataType.sql}): a string id's lexicographic " +
        "window order would disagree with the numeric bucket order")
    val s = docs.sparkSession
    // eager-checkpoint the tokenize pass: approxQuantile below is a
    // driver action over `base`, and the main plan reads `base` again —
    // without this, the corpus is scanned and tokenized TWICE per call
    // (the r13 x32 2.2 s-warm regression). The checkpointed relation is
    // two longs per doc; lineage truncation also keeps the window stage
    // free of the tokenizer.
    val base = docs.select(col(idCol).as("id"),
      size(graft.ops.DedupOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    // bucket count bounded to ample cumsum parallelism; the native
    // binary-search bucketizer keeps per-row cost and plan size
    // independent of it (the cap is no longer a codegen-depth guard)
    val nBuckets = math.min(1024, s.sessionState.conf.numShufflePartitions)
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      else base.select(col("id").cast("double").as("v"))
        .stat.approxQuantile("v", probs, 0.001).distinct.sorted
    val bucket = graft.functions.RangeFunctions.bucket_index(
      col("id").cast("double"), bounds.toSeq)
    val bucketed = base.withColumn("bkt", bucket)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ranked = bucketed.withColumn("cum_in", sum(col("n_tokens")).over(w))
    // bucket totals from the window output's running max — the totals
    // branch then shares `ranked`'s shuffle (ReuseExchange) instead of
    // re-scanning and re-tokenizing the corpus a second time
    val totals = ranked.groupBy(col("bkt")).agg(max(col("cum_in")).as("tot"))
    val offsets = totals.as("a")
      .join(totals.select(col("bkt").as("b_bkt"), col("tot").as("b_tot")),
        col("b_bkt") < col("a.bkt"), "left")
      .groupBy(col("a.bkt"))
      .agg(coalesce(sum(col("b_tot")), lit(0L)).as("offset"))
      .select(col("bkt"), col("offset"))
    ranked.join(broadcast(offsets), "bkt")
      .withColumn("start_off", col("offset") + col("cum_in") - col("n_tokens"))
      .withColumn("bin", expr(s"start_off div ${budgetTokens}L"))
      .select(col("id"), col("n_tokens"), col("start_off"), col("bin"))
  }

  /** Bin manifest over a [[packSequences]] assignment →
    * (bin, n_docs, n_tokens, doc_ids): what each training batch actually
    * contains, with the member ids in layout order (ties — zero-token
    * docs share a start_off — broken by id) — the materialized form a
    * dataloader consumes. One hash aggregation over the assignment; the
    * per-bin id list is bounded by the token budget for docs with ≥ 1
    * token, PLUS however many zero-token docs land on the bin boundary —
    * filter empty docs first (tokenStats/quality cut) if a dirty corpus
    * could hold millions of them, or one bin's buffer grows with them. */
  def packedBins(assignment: DataFrame): DataFrame =
    assignment.groupBy(col("bin")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      transform(array_sort(collect_list(struct(col("start_off"), col("id")))),
        s => s.getField("id")).as("doc_ids"))

  /** Packed-bin SEGMENT layout over a [[packSequences]] assignment →
    * (bin, doc_id, seg_idx, seg_start, seg_len, tok_from): for every
    * (bin, document) pair the concat-and-chunk layout places tokens in,
    * the within-bin token range occupied (`seg_start`, `seg_len`) and
    * which slice of the document it is (`tok_from`, 0-based; `seg_idx`
    * orders a document's segments across the bins it spans). This is the
    * attention-boundary layout a pretraining dataloader consumes:
    * segments tile every bin exactly (spec-asserted), so cross-document
    * attention masks and position-id resets fall out of
    * (bin, seg_start, seg_len) directly — X32's manifest (x32c) says
    * WHICH docs a batch holds, this says WHERE each one sits.
    * Zero-token docs occupy no positions and emit nothing.
    *
    * Scale shape: row-local over the assignment — the bin span is a
    * per-row sequence explode bounded by ⌈n_tokens/budget⌉ + 1, no
    * shuffle beyond what [[packSequences]] already did. */
  def packedSegments(assignment: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    val bdg = lit(budgetTokens)
    assignment
      .select(col("id").as("doc_id"), col("n_tokens"), col("start_off"))
      .filter(col("n_tokens") > 0)
      .withColumn("end_off", col("start_off") + col("n_tokens"))
      .withColumn("first_bin", expr(s"start_off div ${budgetTokens}L"))
      .withColumn("bin",
        explode(sequence(col("first_bin"),
          expr(s"(start_off + n_tokens - 1) div ${budgetTokens}L"))))
      .withColumn("bin_lo", col("bin") * bdg)
      .withColumn("seg_from", greatest(col("start_off"), col("bin_lo")))
      .select(col("bin"), col("doc_id"),
        (col("bin") - col("first_bin")).cast("int").as("seg_idx"),
        (col("seg_from") - col("bin_lo")).as("seg_start"),
        (least(col("end_off"), col("bin_lo") + bdg) - col("seg_from"))
          .as("seg_len"),
        (col("seg_from") - col("start_off")).as("tok_from"))
  }

  /** Deterministic weighted source interleave → (doc_id, source,
    * src_rank, pos): the training-time READING ORDER that mixes sources
    * at their target rates — consuming rows by ascending `pos` yields
    * ~`w_a : w_b` documents from sources a, b in every window of the
    * stream (the batch-level mixing schedule next to X39's corpus-level
    * budget mixing: X39 decides WHICH docs/epochs, this decides WHEN).
    * Within a source, documents are ordered content-addressedly
    * (hash16(id), id — a deterministic shuffle, so the schedule is
    * reproducible across runs/engines/partitionings and no correlated
    * id-order leaks into training). `pos = src_rank / weight` is one
    * IEEE division — exact in both engines; interleaving follows from
    * the classic rate-pacing argument (source a's k-th doc sits at
    * k/w_a). Docs whose source is not in `weights` are EXCLUDED (weight
    * zero) — the same contract as a mixture recipe omitting a source.
    *
    * Scale shape: one window per source (high-cardinality partitioning
    * is the caller's source granularity) + a broadcast weight join; the
    * global order is carried by the `pos` KEY, never materialized as a
    * single-partition row number — consumers range-partition on pos. */
  def interleaveBySource(docs: DataFrame, idCol: String, srcCol: String,
      weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"every interleave weight must be > 0: $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate source in weights: $weights")
    val s = docs.sparkSession
    import s.implicits._
    val wrel = weights.toDF("source", "wt")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("hk"), col("doc_id"))
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"))
      .join(broadcast(wrel), "source")
      .withColumn("hk", hash16(col("doc_id")))
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("src_rank"),
        (col("src_rank").cast("double") / col("wt").cast("double")).as("pos"))
  }

  /** Encoding-quality scan → (doc_id, n_chars, n_control,
    * n_replacement, control_frac, replacement_frac): counts of C0
    * control characters (minus \t\n\r) + DEL and of U+FFFD replacement
    * characters — the mojibake/binary-contamination signals a
    * crawl-cleaning pass filters on (decode errors surface as U+FFFD;
    * stray control bytes survive decoding and poison tokenizers;
    * CCNet-class pipelines drop or strip on both). Pure row-local
    * regex counting in the Java∩RE2 dialect intersection (`\x{FFFD}`
    * spelled as an escape so no raw non-ASCII byte rides in either
    * engine's pattern). Empty docs report zero counts with NULL
    * fractions; NULL text propagates NULLs. */
  def encodingQuality(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ctl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
    val rep = "\\x{FFFD}"
    docs.select(col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("n_chars"),
        regexp_count(col(textCol), lit(ctl)).cast("long").as("n_control"),
        regexp_count(col(textCol), lit(rep)).cast("long").as("n_replacement"))
      .withColumn("control_frac",
        when(col("n_chars") > 0,
          round(col("n_control").cast("double") / col("n_chars"), 6)))
      .withColumn("replacement_frac",
        when(col("n_chars") > 0,
          round(col("n_replacement").cast("double") / col("n_chars"), 6)))
  }

  /** Length-grouped batching → (doc_id, n_tokens, len_bucket,
    * batch_idx): documents bucketed by token-length quantiles and
    * batched WITHIN their bucket in content-addressed order — the
    * padding-efficiency layout (batching similar lengths wastes far
    * fewer pad tokens than random batching; the hash order still
    * decorrelates content within a bucket). `len_bucket` ∈ 0..nBuckets−1
    * from exact percentiles; `batch_idx` numbers fixed-size batches
    * inside each bucket.
    *
    * Scale shape: thresholds are ONE exact-percentile aggregation
    * broadcast back (the x44 pattern — never a global sort); the
    * bucket is a row-local comparison count; batch numbering is one
    * window per bucket. For a production run partition the window by a
    * (bucket, shard) composite if a single bucket outgrows one task's
    * sort. */
  def lengthGroupedBatches(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 4, batchSize: Int = 8): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val base = docs.select(col(idCol).as("doc_id"),
      size(graft.ops.DedupOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    val ps = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cut = base.agg(
      expr(s"percentile(n_tokens, array(${ps.mkString(", ")}))").as("ths"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("len_bucket")).orderBy(col("hk"), col("doc_id"))
    base.crossJoin(broadcast(cut))
      .withColumn("len_bucket",
        aggregate(col("ths"), lit(0),
          (acc, th) => acc + when(col("n_tokens") >= th, 1).otherwise(0)))
      .withColumn("hk", hash16(col("doc_id")))
      // integer div, not Column./ (which is always double division)
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_idx", expr(s"CAST((rn - 1) div $batchSize AS BIGINT)"))
      .select(col("doc_id"), col("n_tokens"), col("len_bucket"),
        col("batch_idx"))
  }

  /** Min-K%-style hardest-token scoring → (doc_id, n_tokens, k_cnt,
    * mink_score): the mean surprisal of each document's HARDEST
    * `kPercent`% of token instances under the corpus's own unigram LM —
    * the aggregate behind Min-K% Prob membership inference (score a
    * doc by its least-likely tokens: a memorized document has even
    * those assigned high probability) and a robust quality signal (the
    * mean-of-hardest can't be masked by padding easy boilerplate around
    * gibberish the way the overall mean can). This is the reference-LM
    * form; with a trained model's per-token logprobs ingested as a
    * column, the identical top-k% aggregate applies. Docs with no
    * tokens emit (0, 0, NULL).
    *
    * Exactness: per-TYPE surprisal quantized once to integer micro-nats
    * (the x28j recipe); k_cnt = ⌈n·k/100⌉ in pure integer arithmetic
    * ((n·k + 99) div 100 — no float ceil); the top-k sum is exact and
    * one division sequence produces the score. Per-doc work is bounded
    * by the document's own length (sort + slice of its surprisal
    * list). */
  def minKProbScores(docs: DataFrame, idCol: String, textCol: String,
      kPercent: Int = 20): DataFrame = {
    require(kPercent >= 1 && kPercent <= 100,
      s"kPercent must be in 1..100, got $kPercent")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(graft.ops.DedupOps.tokens(col(textCol))).as("tok"))
    val cnt = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("total"))
    val lt = cnt.crossJoin(broadcast(tot)).select(col("tok"),
      round(log(col("total").cast("double") / col("c")) * 1e6)
        .cast("long").as("L"))
    val perDoc = tok.join(lt, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sort_array(collect_list(col("L")), asc = false).as("ls"))
      .withColumn("k_cnt",
        expr(s"(n_tokens * $kPercent + 99) div 100"))
      .withColumn("s", aggregate(slice(col("ls"), lit(1), col("k_cnt")),
        lit(0L), (acc, x) => acc + x))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("k_cnt"), lit(0L)).as("k_cnt"),
        when(col("n_tokens").isNotNull,
          round(col("s").cast("double") / col("k_cnt") / 1e6, 6))
          .as("mink_score"))
  }

  /** Source-pair KL-divergence matrix → (src_a, src_b, kl_nats) for
    * every ORDERED pair of sources: KL(a‖b) between the add-one-smoothed
    * unigram distributions — the distribution-drift data-map a curation
    * team reads next to the dup matrix ("is this new dump like books or
    * like crawl", "did src X drift between versions"). Smoothing is over
    * the corpus-wide vocabulary V, so every term is defined and KL is
    * finite.
    *
    * Exactness design: per-(source, token) surprisal is quantized ONCE
    * to integer micro-nats (L = round(ln((n+V)/(c+1))·10⁶), the x28j
    * recipe), making every sum an exact integer — accumulated as
    * DECIMAL(38,0) because the per-pair masses reach ~(n+V)·ln(n+V)·10⁶
    * and would wrap a BIGINT at ~3·10¹¹ tokens per source (the oracle's
    * HUGEINT promotion is the same widening). The engine computes
    * the SPARSE decomposition — the Σ over the full vocabulary splits
    * into the shared-token join term plus closed-form integer masses
    * for tokens present in only one side or neither, so nothing dense
    * is ever materialized (at 100 TB the dense relation is |S|·V and
    * the absent-token mass dominates it) — while the DuckDB oracle
    * computes the DENSE sum over vocabulary × sources outright. Hash
    * equality of the two is a machine-checked proof the decomposition
    * algebra is right.
    *
    * Scale shape: one (source, token) aggregation, one token equi-join
    * for the shared terms (bounded by co-occurring types), per-source
    * scalars broadcast; the matrix is |S|² rows. NULL sources/texts are
    * excluded. */
  def sourceKlMatrix(docs: DataFrame, srcCol: String,
      textCol: String): DataFrame = {
    val tok = docs
      .filter(col(srcCol).isNotNull && col(textCol).isNotNull)
      .select(col(srcCol).as("src"),
        explode(graft.ops.DedupOps.tokens(col(textCol))).as("tok"))
    val c = tok.groupBy(col("src"), col("tok")).agg(count(lit(1)).as("cnt"))
    val ns = c.groupBy(col("src")).agg(sum(col("cnt")).as("n"))
    val vrel = c.agg(countDistinct(col("tok")).as("V"))
    val present = c.join(ns, "src").crossJoin(broadcast(vrel))
      .withColumn("L",
        round(log((col("n") + col("V")).cast("double") / (col("cnt") + 1))
          * 1e6).cast("long"))
      .select(col("src"), col("tok"), col("cnt"), col("L"))
    // per-source integer scalars: |A|, Σ(c+1), Σ(c+1)·L, ΣL, and the
    // absent-token surprisal L0 = round(ln(n+V)·1e6). The sums
    // accumulate as DECIMAL(38,0), not BIGINT: SL and the T1 absent-mass
    // terms are bounded by ~(n+V)·ln(n+V)·1e6 micro-nats, which passes
    // Long.MaxValue once a source holds ~3e11 tokens — a silent
    // wraparound at exactly the corpus scale this matrix targets.
    // DECIMAL(38,0) holds ~1e38 (exact to 38 digits, like DuckDB's
    // HUGEINT promotion on the oracle side), pushing the bound past any
    // physical corpus; the final kl_nats division is double as before.
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val scal = present.groupBy(col("src")).agg(
        count(lit(1)).as("nA"),
        sum((col("cnt") + 1).cast(dec)).as("S"),
        sum((col("cnt") + 1).cast(dec) * col("L")).as("SL"),
        sum(col("L").cast(dec)).as("PL"))
      .join(ns, "src").crossJoin(broadcast(vrel))
      .withColumn("L0",
        round(log((col("n") + col("V")).cast("double")) * 1e6).cast("long"))
    // shared-token cross terms per ordered pair
    val aSide = present.select(col("src").as("src_a"), col("tok"),
      (col("cnt") + 1).as("ca1"))
    val bSide = present.select(col("src").as("src_b"), col("tok"),
      col("L").as("lb"))
    val inter = aSide.join(bSide, Seq("tok"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("ca1").cast(dec) * col("lb")).as("J"),
        sum(col("ca1").cast(dec)).as("IS"),
        sum(col("lb").cast(dec)).as("IL"),
        count(lit(1)).as("IC"))
    val sa = scal.select(col("src").as("src_a"), col("nA").as("nA_a"),
      col("S").as("S_a"), col("SL").as("SL_a"), col("L0").as("L0_a"),
      col("n").as("n_a"), col("V"))
    val sb = scal.select(col("src").as("src_b"), col("nA").as("nA_b"),
      col("PL").as("PL_b"), col("L0").as("L0_b"))
    sa.crossJoin(sb).filter(col("src_a") =!= col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("J", coalesce(col("J"), lit(0L).cast(dec)))
      .withColumn("IS", coalesce(col("IS"), lit(0L).cast(dec)))
      .withColumn("IL", coalesce(col("IL"), lit(0L).cast(dec)))
      .withColumn("IC", coalesce(col("IC"), lit(0L)))
      // T2 = Σ_t (c_a+1)·L_a(t); T1 = Σ_t (c_a+1)·L_b(t); the Σ over the
      // FULL vocab splits into A∩B (join terms), A\B, B\A, and neither —
      // each an exact integer (DECIMAL(38,0) end-to-end, see `dec` above)
      .withColumn("T2",
        col("SL_a") + (col("V") - col("nA_a")).cast(dec) * col("L0_a"))
      .withColumn("T1",
        col("J") + (col("S_a") - col("IS")) * col("L0_b")
          + (col("PL_b") - col("IL"))
          + (col("V") - col("nA_a") - col("nA_b") + col("IC")).cast(dec)
            * col("L0_b"))
      .withColumn("kl_nats",
        round((col("T1") - col("T2")).cast("double")
          / ((col("n_a") + col("V")).cast("double") * 1e6), 6))
      .select(col("src_a"), col("src_b"), col("kl_nats"))
  }

  /** Vocabulary coverage curve → the top-`k` token types by corpus
    * frequency with their CUMULATIVE share: (rank, tok, n, cum_share) —
    * the Zipf curve read when sizing a tokenizer vocabulary ("the top
    * 30k types cover 97% of tokens; the next 30k buy 1.5%") and when
    * auditing what a frequency-capped vocab will fall back to chars on.
    * Deterministic: ties at the cut break by token string.
    *
    * Scale shape: the corpus reduces to the (type, count) relation in
    * one hash aggregation; top-k is TakeOrderedAndProject (no global
    * sort of the vocab), and the cumulative window runs over exactly k
    * rows — the x39c tiny-relation-window pattern. */
  def vocabCoverageCurve(docs: DataFrame, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val tf = docs
      .select(explode(graft.ops.DedupOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val total = tf.agg(sum(col("n")).as("total"))
    val top = tf.orderBy(col("n").desc, col("tok")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("tok"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("tok"))))
      .withColumn("cum_share",
        round(sum(col("n")).over(w).cast("double") / col("total"), 6))
      .select(col("rank"), col("tok"), col("n"), col("cum_share"))
  }

  /** Per-document n-gram NOVELTY vs a reference corpus →
    * (doc_id, n_shingles, n_novel, novelty): what fraction of each
    * document's distinct 3-shingles does NOT occur anywhere in the
    * reference — the "how much of this dump is actually new text"
    * measure read when triaging a fresh crawl against what's already
    * ingested (low novelty ⇒ mostly mirrors/boilerplate; also the
    * corpus-side complement of [[contaminationPairs]], which is
    * probe-centric). Docs too short for a shingle emit (0, 0, NULL).
    *
    * Scale shape: the reference reduces to its DISTINCT shingle-hash
    * set once (one hash aggregation); scoring is a left join on the
    * 8-byte hash + one per-doc count — linear, and a Bloom filter of
    * the reference set slots in front of the join exactly like
    * [[contaminationPairsBloom]] when the reference outgrows the
    * shuffle budget. */
  def ngramNovelty(docs: DataFrame, reference: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ds = shingles(docs, idCol, textCol).toDF("doc_id", "shh")
    val ref = shingles(reference, idCol, textCol)
      .select(col("shh")).distinct().withColumn("__seen", lit(true))
    val counts = ds.join(ref, Seq("shh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    docs.select(col(idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_shingles") > 0,
          round(col("n_novel").cast("double") / col("n_shingles"), 6))
          .as("novelty"))
  }

  /** Corpus version diff → (doc_id, status, old_hash, new_hash) with
    * status ∈ added/removed/changed/unchanged — the dump-over-dump
    * comparison a curation pipeline runs between crawl versions before
    * deciding what to re-process (changed + added are the increment;
    * removed feeds tombstones). Presence is tracked by explicit flags,
    * NOT hash nullability — a present row with NULL text keeps its
    * presence and null-safe hash compare (`<=>`) classifies it
    * correctly (two NULL-text versions are 'unchanged', not 'added').
    *
    * Scale shape: one full-outer equi-join on the id (shuffle-free when
    * both dumps are [[saveBucketed]] on it); text never travels — each
    * side reduces to (id, 32-byte hash) at its own scan. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def side(df: DataFrame, h: String, p: String): DataFrame =
      df.select(col(idCol).as("doc_id"), sha2(col(textCol), 256).as(h),
        lit(true).as(p))
    side(oldDocs, "old_hash", "__op")
      .join(side(newDocs, "new_hash", "__np"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__op").isNull, "added")
          .when(col("__np").isNull, "removed")
          .when(col("old_hash") <=> col("new_hash"), "unchanged")
          .otherwise("changed"))
      .select(col("doc_id"), col("status"), col("old_hash"), col("new_hash"))
  }

  /** Quality-filter threshold calibration → one row per occupied score
    * bucket: (threshold_bucket, n_kept, pos_kept, precision, recall,
    * f1) for the keep-rule `score ≥ bucket·bucketWidth` — the sweep a
    * curation team reads to PICK a filter threshold (where does
    * precision cross 0.9, what recall does that cost) before commiting
    * a classifier cut to a corpus. `labelCol` is the boolean
    * ground-truth ("is actually high-quality", from human ratings or a
    * held-out signal); NULL scores/labels are excluded.
    *
    * Scale shape: ONE aggregation reduces the corpus to ≤ |buckets|
    * rows; the cumulative-from-top counts are a window over that tiny
    * bucket relation (the x39c weight-window pattern — never a window
    * over data). Ratios are single IEEE divisions rounded at 6, so the
    * whole sweep hash-compares. */
  def filterThresholdSweep(docs: DataFrame, scoreCol: String,
      labelCol: String, bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    val b = docs
      .select(floor(col(scoreCol).cast("double") / bucketWidth).cast("long")
          .as("threshold_bucket"),
        col(labelCol).cast("boolean").as("pos"))
      .filter(col("threshold_bucket").isNotNull && col("pos").isNotNull)
    val agg = b.groupBy(col("threshold_bucket")).agg(
      count(lit(1)).as("n_bkt"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("pos_bkt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("threshold_bucket").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = agg.agg(sum(col("pos_bkt")).as("pos_total"))
    agg
      .withColumn("n_kept", sum(col("n_bkt")).over(w))
      .withColumn("pos_kept", sum(col("pos_bkt")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("precision",
        round(col("pos_kept").cast("double") / col("n_kept"), 6))
      .withColumn("recall",
        when(col("pos_total") > 0,
          round(col("pos_kept").cast("double") / col("pos_total"), 6)))
      .withColumn("f1",
        when(col("pos_kept") > 0, round(
          lit(2.0) * col("pos_kept") /
            (col("n_kept") + col("pos_total")).cast("double"), 6)))
      .select(col("threshold_bucket"), col("n_kept"), col("pos_kept"),
        col("precision"), col("recall"), col("f1"))
  }

  /** Corpus top-k bigrams → (bigram, n), deterministic order. The
    * adjacent-pair extraction is the native one-pass [[TokenBigrams]]
    * expression (the composed zip_with/filter/transform pipeline runs
    * interpreted per element; bit-equality asserted in TextExprSpec). */
  def topBigrams(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(
        graft.functions.TextFunctions.token_bigrams(col(textCol))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** Persist a relation bucketed (and in-bucket sorted) on a join key —
    * the co-location contract for repeated large-large joins: two tables
    * bucketed on the same key with the same bucket count join WITHOUT any
    * Exchange (verified in PlanSpec), which at 100 TB turns every
    * downstream join/aggregation on that key from a full shuffle into a
    * local merge. Requires a catalog table (bucketing metadata lives in
    * the catalog, not the parquet files). */
  def saveBucketed(df: DataFrame, tableName: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(tableName)

  /** Hive-style partitioned parquet layout — the PRUNING counterpart of
    * [[saveBucketed]]'s co-location: directories are keyed by the
    * partition columns, so an equality/IN filter on them never opens the
    * other partitions' files at all (partition pruning happens at
    * planning, before any I/O). Use for the low-cardinality columns every
    * query filters on (language, source, date); high-cardinality keys
    * belong in buckets, not directories (a 100 TB corpus with a
    * million-value partition key is a small-file catastrophe). Asserted
    * against the physical scan in PlanSpec. */
  def savePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "savePartitioned needs partition columns")
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Context-window chunking → (id, chunk_idx, chunk_text, n_tokens): each
    * document is cut into windows of `chunkTokens` tokens starting every
    * `strideTokens` (stride < chunk ⇒ overlapping windows — the standard
    * long-document treatment for a fixed model context; stride == chunk ⇒
    * the disjoint spans of [[spanDedup]]'s cut). The final window may be
    * short; windows start while any token remains, so every token lands in
    * ≥ 1 chunk. Empty documents produce no chunks. Pure row-local
    * projection — no shuffle; chunk count per doc is ⌈n/stride⌉, so output
    * size scales by the chunk/stride ratio and nothing else. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      s"need 1 <= stride <= chunk, got $strideTokens/$chunkTokens")
    tokenWindows(docs, idCol, textCol, chunkTokens, strideTokens)
      .select(col("id").as(idCol), col("idx").as("chunk_idx"),
        col("win").as("chunk_text"), col("n_tokens"))
  }

  /** Shared token-window cut of [[spanDedup]] (stride == window) and
    * [[chunkDocuments]] → (id, idx, win, n_tokens): windows of `window`
    * tokens starting every `stride` while any token remains (final window
    * short; empty docs emit nothing — the `when` leaves a null array and
    * explode drops it). Tokens are materialized ONCE per row before the
    * lambda: a higher-order function's body is evaluated per element and
    * sits outside common-subexpression elimination, so referencing the
    * split/filter subtree inside transform would re-tokenize the whole
    * document per window. */
  private def tokenWindows(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    val toks = col("__toks")
    docs
      .select(col(idCol).as("id"), DedupOps.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(when(size(toks) > 0,
          transform(
            sequence(lit(0L), floor((size(toks) - 1) / lit(stride.toDouble))),
            i => struct(i.as("idx"),
              array_join(slice(toks, (i * stride + 1).cast("int"),
                lit(window)), " ").as("win"),
              least(lit(window.toLong),
                size(toks) - i * stride).as("n_tokens"))))).as("w"))
      .select(col("id"), col("w.idx").as("idx"), col("w.win").as("win"),
        col("w.n_tokens").as("n_tokens"))
  }

  /** Incremental-ingest exact dedup: rows of `increment` whose `textCol`
    * content does NOT already occur in `corpus` — the batch form of
    * admitting a new crawl against an existing corpus (the streaming twin
    * is StreamingOps.incrementalDedup). One anti-join on the 32-byte
    * content hash: the corpus side reduces to its distinct hash set (a
    * hash aggregation), so no document text is shuffled, and the join key
    * is fixed-width regardless of document size. Duplicates WITHIN the
    * increment are kept (dedup the increment itself with [[exactDedup]]
    * first if needed) — admission and self-dedup are separate concerns. */
  def dedupAgainstCorpus(increment: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    // unhex → a true 32-byte binary key (sha2 returns 64-char hex, which
    // would double the shuffled key width); h("__h") keeps the reference
    // unambiguous even if the increment has its own __h column
    val h = corpus.select(unhex(sha2(col(textCol), 256)).as("__h")).distinct()
    increment.join(h, unhex(sha2(col(textCol), 256)) === h("__h"), "left_anti")
  }

  /** Corpus-level heavy hitters via the `approx_top_k` frequency sketch
    * (DataSketches frequent-items) → (tok, est_n), re-ranked
    * deterministically (count DESC, token ASC). The BOUNDED-MEMORY form of
    * [[topBigrams]]-style exact counting: the sketch tracks at most
    * `maxItems` candidates per partial aggregate regardless of vocabulary
    * size, so the shuffle ships one small sketch per partition instead of
    * the full (token, count) relation — the shape that survives a 100 TB
    * corpus with a billion-term vocabulary. Estimates are EXACT while
    * distinct items ≤ `maxItems` (asserted against exact counts in
    * LlmOpsSpec); beyond that they carry the sketch's documented
    * overcount bound, and which boundary-tied item enters the top k is
    * sketch-internal — hence rows-only, no SQL oracle. */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int,
      maxItems: Int = 10000): DataFrame = {
    require(k >= 1 && maxItems >= k, s"need 1 <= k <= maxItems, got $k/$maxItems")
    // Spark's ApproxTopK MAX_ITEMS_TRACKED_LIMIT — fail here with a clear
    // message rather than inside the aggregate at execution time
    require(maxItems <= 1000000,
      s"maxItems exceeds Spark's approx_top_k limit of 1000000: $maxItems")
    docs.select(explode(DedupOps.tokens(col(textCol))).as("tok"))
      .agg(expr(s"approx_top_k(tok, $k, $maxItems)").as("top"))
      .select(explode(col("top")).as("hh"))
      .select(col("hh.item").as("tok"), col("hh.count").as("est_n"))
      .orderBy(col("est_n").desc, col("tok"))
  }

  /** Count-min sketch over a corpus's tokens — the mergeable
    * point-frequency summary: ~`d·w` counters total (independent of corpus
    * and vocabulary size), built distributed (one sketch per partition,
    * merged associatively) and probed on the driver in O(d) per query
    * token. `estimateCount` never undercounts and overcounts by at most
    * `eps · totalCount` with probability `confidence` — the standard tool
    * for "roughly how often does THIS token/n-gram occur in 100 TB"
    * without materializing the exact count relation. */
  def tokenCountSketch(docs: DataFrame, textCol: String, eps: Double = 1e-4,
      confidence: Double = 0.99, seed: Int = 42)
      : org.apache.spark.util.sketch.CountMinSketch =
    docs.select(explode(DedupOps.tokens(col(textCol))).as("tok"))
      .stat.countMinSketch("tok", eps, confidence, seed)

  /** Morton/Z-order value of two integer columns → one long: the low
    * `bits` bits of each input interleaved (x on even positions, y on
    * odd), so that sorting by the result clusters rows that are close in
    * BOTH dimensions. Pure column algebra (shifts/masks — whole-stage
    * codegen'd); inputs are masked to `bits` bits, so callers bucket or
    * clamp wider domains first. The layout counterpart is
    * [[saveZOrdered]]. */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val mask = (1L << bits) - 1
    val xm = x.cast("long").bitwiseAND(lit(mask))
    val ym = y.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order-clustered parquet layout — the MULTI-DIMENSIONAL data-skipping
    * counterpart of [[savePartitioned]] (directory pruning on one
    * low-cardinality key) and [[saveBucketed]] (join co-location): rows are
    * range-partitioned and sorted by [[zValue]] over the two columns, so
    * each output file (and each parquet row group inside it) covers a
    * small rectangle of the (x, y) space and its min/max column statistics
    * prune reads for range predicates on EITHER or both dimensions — the
    * Delta/Iceberg OPTIMIZE ZORDER technique expressed as plain Spark.
    * One range-exchange (sampled boundaries) + per-partition sort; no
    * global sort. Files are z-range-disjoint (asserted in
    * TrainingDataSpec). */
  def saveZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
      bits: Int = 16, numFiles: Int = 0): Unit = {
    require(!df.columns.contains("__z"),
      "saveZOrdered uses a helper column named __z; rename yours first")
    val parts = if (numFiles > 0) numFiles
      else df.sparkSession.sparkContext.defaultParallelism
    df.withColumn("__z", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Deterministic GLOBAL SHUFFLE layout — the dataloader-order step
    * between curation and packing: rows are written ordered by a
    * content-addressed pseudo-random permutation (the 16-bit coordinate
    * over `id + "#shuf"`, ties broken by id), so source/crawl-order
    * correlation between neighboring training examples is broken the
    * same way on every run, engine, and partitioning — unlike
    * `orderBy(rand())`, which re-rolls per execution.
    *
    * Shards are Hive-style `__shard=NNNNN` directories whose membership
    * is a PURE FUNCTION of the coordinate (`shard = ⌊u·shards/65536⌋` —
    * equal-width ranges of a uniform hash, so shards balance), NOT
    * `repartitionByRange`, whose SAMPLED boundaries differ per
    * materialization once the sampler subsamples — per-shard contents
    * here are byte-stable run-to-run, not just the concatenated order.
    * A loader streaming the zero-padded directories in name order sees
    * the full permutation; no global single-partition sort anywhere.
    *
    * Shard membership is stable for a FIXED shard count: the default
    * `numShards = 0` uses `defaultParallelism`, which varies across
    * machines/cluster sizes — pass an explicit `numShards` when the
    * shard structure itself (not just the concatenated order, which is
    * environment-independent either way) must reproduce across
    * environments. */
  def saveShuffled(df: DataFrame, idCol: String, path: String,
      numShards: Int = 0): Unit = {
    Seq("__shuf", "__shard").foreach(c => require(!df.columns.contains(c),
      s"saveShuffled uses a helper column named $c; rename yours first"))
    val parts = if (numShards > 0) numShards
      else df.sparkSession.sparkContext.defaultParallelism
    require(parts <= 65536, s"shards exceed coordinate resolution: $parts")
    df.withColumn("__shuf",
        hash16(concat(col(idCol).cast("string"), lit("#shuf"))))
      .withColumn("__shard", format_string("%05d",
        (col("__shuf").cast("long") * parts / 65536L).cast("int")))
      .repartition(parts, col("__shard"))
      .sortWithinPartitions(col("__shard"), col("__shuf"), col(idCol))
      .drop("__shuf")
      .write.mode("overwrite").partitionBy("__shard").parquet(path)
  }

  /** JSON-Lines export — the interchange format most training stacks
    * ingest: one JSON object per line, gzip-compressed shards sized by
    * `numShards` (0 ⇒ keep the input partitioning; each task writes one
    * shard, so shard count = write parallelism). Spark's native JSON
    * writer — distributed, no driver funnel. Timestamps render in UTC
    * ISO-8601 (session timezone pinned by the callers' builder). */
  def saveJsonl(df: DataFrame, path: String, numShards: Int = 0): Unit = {
    require(numShards >= 0, s"numShards must be >= 0, got $numShards")
    val out = if (numShards > 0) df.repartition(numShards) else df
    out.write.mode("overwrite")
      .option("compression", "gzip")
      .json(path)
  }

  /** Non-distinct word n-grams (cf. DedupOps.shingles, which dedups) —
    * repetition needs the multiplicity. Short docs → explicit empty array
    * (`sequence(1, 0)` would step backwards). */
  private def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))

  /** Survivor selection over near-duplicate clusters → one kept document
    * per cluster: the cluster member maximizing `scoreCol` (ties → min
    * id), which is how a real pipeline retains the BEST copy (longest,
    * highest quality score, …) rather than an arbitrary one.
    * `clusterLabels` is `(id, label)` as returned by [[dedupClusters]];
    * docs absent from it (no near-dup pair) survive as their own
    * singleton cluster. Output: (cluster_id, survivor_id, n_docs).
    * The per-cluster argmax is a `min(struct(-score, id))` aggregation —
    * partial-aggregates map-side, no per-cluster sort or window. */
  def dedupSurvivors(docs: DataFrame, idCol: String, scoreCol: String,
      clusterLabels: DataFrame): DataFrame = {
    val lab = clusterLabels.select(col("id"), col("label"))
    // NULL score must lose to any scored member (a null field inside the
    // argmax struct would otherwise sort first), and an all-null cluster
    // falls back to the min-id tiebreak
    docs.select(col(idCol).as("id"),
        coalesce(col(scoreCol).cast("double"),
          lit(Double.NegativeInfinity)).as("score"))
      .join(lab, Seq("id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("id")))
      .groupBy(col("cluster_id"))
      .agg(min(struct((-col("score")).as("ns"), col("id").as("id"))).as("best"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_id"), col("best.id").as("survivor_id"), col("n_docs"))
  }

  /** SFT turn assembly with loss-mask offsets → (conv_id, turn_idx,
    * role, n_toks, tok_start, tok_end, train_on): each conversation's
    * turns indexed in order with CUMULATIVE token offsets, and the turns
    * whose role is in `trainRoles` marked trainable — the layout a
    * supervised-fine-tuning dataloader consumes to mask loss on
    * non-assistant turns (train on what the model should say, attend to
    * everything). `orderCols` must be a unique ordering within a
    * conversation (pass a tiebreak id alongside the timestamp — two
    * turns at the same instant would otherwise make the offsets
    * partitioning-dependent).
    *
    * Scale shape: one window partitioned by conversation (running
    * row_number + token cumsum — per-partition state is one
    * conversation); token counting is row-local. A conversation is the
    * natural parallelism unit of SFT data, so this partitioning is the
    * one the downstream packing/batching steps want anyway. */
  def turnLossMasks(turns: DataFrame, convCol: String,
      orderCols: Seq[String], roleCol: String, textCol: String,
      trainRoles: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(convCol)).orderBy(orderCols.map(col): _*)
    // the token cumsum runs over a ROWS frame, not the default RANGE
    // frame: under the documented unique-orderCols contract they agree,
    // but if a caller violates it (tied order keys), RANGE would give
    // tied rows the same tok_end while row_number stays distinct —
    // silently overlapping/negative-width offsets; ROWS keeps the
    // offsets tiling consistently even under ties
    val wRows = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    turns
      .select(col(convCol) +: orderCols.map(col) :+ col(roleCol).as("role") :+
        size(DedupOps.tokens(col(textCol))).cast("long").as("n_toks"): _*)
      .withColumn("turn_idx", row_number().over(w))
      .withColumn("tok_end", sum(col("n_toks")).over(wRows))
      .select(col(convCol).as("conv_id"), col("turn_idx"), col("role"),
        col("n_toks"), (col("tok_end") - col("n_toks")).as("tok_start"),
        col("tok_end"),
        col("role").isin(trainRoles.map(x => x: Any): _*).as("train_on"))
  }

  /** RLHF preference-pair assembly → (prompt_id, chosen_id, rejected_id,
    * margin): per prompt, the top-rated response (ties → lowest id, the
    * deterministic tie-break) is CHOSEN and every strictly-lower-rated
    * response pairs against it as REJECTED with margin = rating gap —
    * the (chosen, rejected) layout a DPO/RLHF reward trainer consumes.
    * Responses tied with the chosen carry no preference signal and emit
    * no pair; NULL-rated responses are dropped (an unrated response
    * can't express a preference); a prompt with one (or zero) usable
    * responses emits nothing. `minMargin` optionally drops weak
    * preferences (margin below it) the way noisy-label filtering does.
    *
    * Scale shape: ONE window per prompt (the [[turnLossMasks]] pattern —
    * a prompt's response set is the natural parallelism unit): the
    * chosen row is a `first_value` over the full frame, so there is no
    * self-join and no second shuffle; everything after the window is a
    * row-local filter+projection. */
  def preferencePairs(responses: DataFrame, promptCol: String,
      idCol: String, ratingCol: String, minMargin: Double = 0.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prompt_id"))
      .orderBy(col("rating").desc, col("response_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    responses
      .select(col(promptCol).as("prompt_id"), col(idCol).as("response_id"),
        col(ratingCol).cast("double").as("rating"))
      .filter(col("rating").isNotNull)
      .withColumn("chosen_id", first(col("response_id")).over(w))
      .withColumn("chosen_rating", first(col("rating")).over(w))
      .filter(col("rating") < col("chosen_rating"))
      .withColumn("margin", round(col("chosen_rating") - col("rating"), 6))
      .filter(col("margin") >= minMargin)
      .select(col("prompt_id"), col("chosen_id"),
        col("response_id").as("rejected_id"), col("margin"))
  }

  /** Cross-source duplication matrix → (src_a, src_b, n_pairs): how many
    * near-duplicate pairs connect each unordered pair of sources — the
    * curation data-map that answers "which corpora duplicate each other"
    * (crawl-vs-crawl overlap, a dump re-ingested under a new name, a
    * source that is mostly mirrors of another) before any survivor
    * policy is chosen. `pairs` is any (d1, d2) near-dup pair relation
    * (exact Jaccard, MinHash-LSH, embedding — they all emit this shape);
    * sources attach by equi-join and the unordered key is
    * (least, greatest), so (A,B) and (B,A) pairs accumulate together and
    * within-source duplication shows up on the diagonal. Pair ids absent
    * from `docs` (or with NULL source) fold into an explicit `'unknown'`
    * source, so Σ n_pairs always equals |pairs| — conservation holds by
    * construction rather than by an unstated coverage assumption.
    *
    * Scale shape: the pair relation is already candidate-bounded (LSH/
    * banding upstream — never all-pairs), the two source attaches are
    * id-keyed equi-joins, and the matrix itself aggregates to at most
    * |sources|² rows. */
  def crossSourceDupMatrix(pairs: DataFrame, docs: DataFrame,
      idCol: String, srcCol: String): DataFrame = {
    val src = docs.select(col(idCol).as("__id"), col(srcCol).as("__src"))
    // LEFT joins + an explicit 'unknown' source: an inner join would
    // silently DROP any pair whose id is absent from docs (or whose
    // source is NULL), so the matrix would under-count and the
    // pair-count conservation property (Σ n_pairs == |pairs|) would
    // break without a visible symptom. Unresolved ids fold into
    // 'unknown' rows instead — dropped coverage is a visible matrix
    // entry, not a silent subtraction.
    pairs.select(col("d1"), col("d2"))
      .join(src.select(col("__id").as("d1"), col("__src").as("s1")), Seq("d1"), "left")
      .join(src.select(col("__id").as("d2"), col("__src").as("s2")), Seq("d2"), "left")
      .select(coalesce(col("s1"), lit("unknown")).as("s1"),
        coalesce(col("s2"), lit("unknown")).as("s2"))
      .groupBy(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Keep approximately the top `fraction` of rows per stratum by
    * `scoreCol` — "best 30% quality per language" corpus filtering. The
    * per-stratum threshold is ONE percentile aggregation broadcast back
    * as a filter, so the data relation is scanned, not sorted. The kept
    * count is approximate in both directions: ties AT the threshold are
    * kept (more rows), and the interpolated threshold can land above the
    * exact fraction boundary (fewer rows) — do not audit row counts
    * against an exact floor. Rows with a NULL stratum or NULL score are
    * dropped (join/filter semantics) — bucket or coalesce them first if
    * they must participate. Strata cardinality is assumed small
    * (languages, sources) — the cutoff relation is broadcast
    * unconditionally.
    *
    * `exact = true` uses `percentile`, whose aggregation buffer holds a
    * stratum's distinct score values — fine up to millions of distinct
    * scores, and required for a DuckDB-reproducible threshold (the
    * fixture oracle). For a stratum with billions of continuous scores
    * pass `exact = false`: `approx_percentile` (a bounded-memory
    * quantile sketch) is the shape that actually survives that scale,
    * at the cost of a slightly perturbed threshold. */
  def topFractionByStrata(rows: DataFrame, strataCol: String,
      scoreCol: String, fraction: Double, exact: Boolean = true): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"fraction must be in (0, 1], got $fraction")
    val fn = if (exact) "percentile" else "approx_percentile"
    val cut = rows.groupBy(col(strataCol))
      .agg(expr(s"$fn(`$scoreCol`, ${1.0 - fraction})").as("cutoff"))
    rows.join(broadcast(cut), Seq(strataCol))
      .filter(col(scoreCol) >= col("cutoff"))
      .drop("cutoff")
  }

  /** One-call near-duplicate dedup returning the KEPT documents (full
    * rows): exact-Jaccard pairs at `threshold` → clusters → best-`scoreCol`
    * survivor per cluster → semi-join back. The quadratic pair step is the
    * verifier form — swap in [[minhashNearDupPairs]] + [[dedupClusters]] +
    * [[dedupSurvivors]] manually for the LSH candidate cut at 100 TB
    * corpus sizes. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String, threshold: Double, maxRounds: Int = 50): DataFrame = {
    // the pair plan references the shingle relation on several branches,
    // and dedupClusters consumes it EAGERLY (per-round localCheckpoint) —
    // persisting just for that call turns 3-4 text scans into one, and
    // nothing lazy references it afterwards (labels are checkpoint-backed)
    val sh = shingles(docs, idCol, textCol).persist()
    val labels =
      try dedupClusters(
        nearDupPairsFromShingles(sh, threshold).select(col("d1"), col("d2")),
        maxRounds)
      finally sh.unpersist()
    val keep = dedupSurvivors(docs, idCol, scoreCol, labels)
      .select(col("survivor_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Per-document curation VERDICT report → (doc_id, kept, removed_by):
    * every document's fate under the standard curation cascade, with
    * the FIRST matching rule attributed —
    *   1. `exact_dup`      not the lowest-id copy of its content hash;
    *   2. `near_dup`       not its near-dup cluster's best-`scoreCol`
    *                       survivor — decided among CANONICAL copies
    *                       only (stage 1 runs first), so an exact copy
    *                       can never win a cluster and then vanish to
    *                       rule 1; singletons survive trivially;
    *   3. `contamination`  contains ≥ `containmentThreshold` of some
    *                       probe's shingles ([[contaminationPairs]]);
    *   4. `quality`        NULL text, NULL score, or score < minScore;
    *   5. kept otherwise (removed_by NULL).
    * This is the audit table a production pipeline publishes next to a
    * curated corpus — per-rule/per-source removal counts, spot-check
    * sampling, and "why is doc X gone" all read off it. The cascade
    * order mirrors what pipelines run (cheap exact dedup first; an
    * exact duplicate is attributed there even though it is also a
    * jaccard-1 near-dup).
    *
    * Scale shape: each rule is the library's own scalable op (hash
    * aggregation for canonicals, the shingle-pair→cluster→survivor
    * chain, the bipartite containment join) and the verdict is four
    * LEFT equi-joins on the id + one row-local CASE. Self-contained:
    * relations are built from `docs`/`probes`; at production scale
    * swap the pair step for the MinHash-LSH candidate cut exactly as
    * [[dedupCorpus]] documents. */
  def curationVerdicts(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String, probes: DataFrame, jaccardThreshold: Double = 0.5,
      containmentThreshold: Double = 0.5, minScore: Double = 0.0,
      maxRounds: Int = 50): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      col(scoreCol).cast("double").as("__score"))
    val ex = d.filter(col("__text").isNotNull)
      .select(col("doc_id"), sha2(col("__text"), 256).as("__h"))
    val canon = ex.groupBy(col("__h")).agg(min(col("doc_id")).as("__canon"))
    val exFlag = ex.join(canon, "__h")
      .select(col("doc_id"), (col("doc_id") =!= col("__canon")).as("__xd"))
    // STAGED like a real pipeline: exact duplicates drop FIRST, and
    // near-dup survivorship is decided among the CANONICAL copies only.
    // Deciding it on the raw set can hand the cluster win to an exact
    // copy that rule 1 then removes — deleting the whole content family
    // (caught by the cascade spec). NULL-text docs have no hash and are
    // canonical by default (they shingle to nothing and fall to the
    // quality rule).
    val canonDocs = d.join(exFlag, Seq("doc_id"), "left")
      .filter(!coalesce(col("__xd"), lit(false)))
      .select(col("doc_id"), col("__text"), col("__score"))
    val sh = shingles(canonDocs, "doc_id", "__text").persist()
    val labels =
      try dedupClusters(
        nearDupPairsFromShingles(sh, jaccardThreshold)
          .select(col("d1"), col("d2")), maxRounds)
      finally sh.unpersist()
    val surv = dedupSurvivors(
        canonDocs.select(col("doc_id"), col("__score")), "doc_id", "__score",
        labels)
      .select(col("survivor_id").as("doc_id"), lit(true).as("__sv"))
    val contam = contaminationPairs(
        canonDocs.select(col("doc_id"), col("__text")),
        probes.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        "doc_id", "__text", containmentThreshold)
      .select(col("corpus_id").as("doc_id")).distinct()
      .withColumn("__ct", lit(true))
    d.join(exFlag, Seq("doc_id"), "left")
      .join(surv, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("removed_by",
        when(coalesce(col("__xd"), lit(false)), "exact_dup")
          .when(col("__sv").isNull, "near_dup")
          .when(coalesce(col("__ct"), lit(false)), "contamination")
          .when(col("__text").isNull || col("__score").isNull ||
            col("__score") < minScore, "quality"))
      .select(col("doc_id"), col("removed_by").isNull.as("kept"),
        col("removed_by"))
  }

  /** C4-style span-level dedup ACROSS the corpus →
    * (id, clean_text, n_spans, n_kept): each document is cut into
    * consecutive `spanTokens`-token spans, every span occurrence after the
    * corpus-wide first (ordered by (id, position)) is removed, and the
    * survivors are reassembled in document order — the "remove duplicated
    * boilerplate lines, keep one copy" cleaning pass of C4/RefinedWeb-type
    * pipelines (those dedup three-sentence spans; the token-span form is
    * the same algebra without a sentence splitter). Documents whose every
    * span is a duplicate survive with empty text; empty documents pass
    * through with 0 spans.
    *
    * Scale shape: one projection cuts spans (no shuffle), one
    * hash-aggregation finds each span's first occurrence, one equi-join on
    * the span marks keep/remove, one aggregation reassembles. The span
    * string itself is the shuffle key — wide but exact; at 100 TB the
    * aggregation/join key could be xxhash64(span) (8 bytes), traded
    * against a ~n²/2^64 false-merge rate, but then the result is no
    * longer engine-reproducible, so the exact form is the default. The
    * per-doc reassembly buffer is bounded by the document length (same
    * bound the text itself already imposes on any row). */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 3): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    // the disjoint (stride == window) case of the shared token-window cut
    val spans = tokenWindows(docs, idCol, textCol, spanTokens, spanTokens)
      .select(col("id"), col("idx").as("span_idx"), col("win").as("span"))
    // corpus-wide first occurrence per span: partial-aggregating argmin on
    // (id, position) — no window, no per-span sort
    val first = spans.groupBy(col("span"))
      .agg(min(struct(col("id").as("id"), col("span_idx").as("span_idx"))).as("keep"))
    val marked = spans.join(first, Seq("span"))
      .select(col("id"), col("span_idx"), col("span"),
        (col("id") === col("keep.id") &&
          col("span_idx") === col("keep.span_idx")).as("kept"))
    val perDoc = marked.groupBy(col("id")).agg(
      count(lit(1)).as("n_spans"),
      count(when(col("kept"), true)).as("n_kept"),
      // collect_list skips the nulls (removed spans); array_sort on the
      // struct orders by span_idx, restoring document order
      array_join(transform(
        array_sort(collect_list(when(col("kept"),
          struct(col("span_idx"), col("span"))))),
        s => s.getField("span")), " ").as("clean_text"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Keep at most `n` rows per `keyCol` value, by ascending `orderCol` —
    * per-domain / per-source caps, the standard anti-monoculture lever of
    * web-corpus curation (no single site may dominate the mix).
    * Deterministic WHEN `orderCol` orders a key's rows uniquely (an id):
    * the kept set is then the `orderCol`-least n rows, not a
    * partitioning-dependent arbitrary n. With ties at the cap boundary,
    * `row_number` breaks them by arrival order — pass an id column (or a
    * composite you pre-concatenate) if reproducibility across runs
    * matters. One shuffle on the key; the
    * per-key sort is bounded by that key's row count, so a pathologically
    * hot key (one domain = billions of pages) is the skew to watch — cap
    * such keys in two passes (hash-sample down to ~n·10 with
    * [[hashSample]], then cap exactly) if one key's rows exceed an
    * executor's sort spill comfort. */
  def capPerKey(rows: DataFrame, keyCol: String, orderCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"cap must be >= 1, got $n")
    require(!rows.columns.contains("__rn"),
      "capPerKey uses a helper column named __rn; rename yours first")
    import org.apache.spark.sql.expressions.Window
    // NULLS LAST, not Spark's ascending default of NULLS FIRST: rows with
    // no order value must not consume the cap ahead of every genuinely
    // ordered row (and DuckDB's ASC default is NULLS LAST — the oracle
    // dialect intersection). Ties on orderCol remain partitioning-
    // dependent — pass a unique orderCol when the exact kept set matters.
    rows.withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(orderCol).asc_nulls_last)))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Whitespace/case normalization → (id, norm_text): runs of whitespace
    * collapse to one space, leading/trailing whitespace is trimmed, text
    * is lowercased — the canonicalization applied before hashing/dedup so
    * that formatting-only variants collide. Pure row-local projection:
    * no shuffle, composes with any downstream op at the scan.
    * The whitespace class is spelled out rather than `\s` because Java's
    * `\s` includes vertical tab while RE2's does not — the explicit class
    * is the Java∩RE2 intersection the oracle replays exactly. */
  def normalizeText(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      lower(trim(regexp_replace(col(textCol), "[ \\t\\n\\r\\f]+", " ")))
        .as("norm_text"))

  /** Decontamination normalization — the standard eval-set rule (the
    * GPT-3 appendix-C recipe): lowercase, strip punctuation/symbols to
    * spaces, collapse ALL whitespace, trim → (id, norm_text). Stronger
    * than [[normalizeText]]: a re-punctuated or re-wrapped copy of an
    * eval document normalizes to the identical token stream, so the
    * downstream shingle containment scan ([[contaminationPairs]])
    * catches it. The punctuation class is ASCII-non-alphanumeric spelled
    * explicitly (Java∩RE2, oracle-replayable); non-ASCII letters pass
    * through untouched. Pure row-local projection. */
  def normalizeForDecontam(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      trim(regexp_replace(
        regexp_replace(lower(col(textCol)), "[!-/:-@\\[-`{-~]", " "),
        "[ \\t\\n\\r\\f]+", " ")).as("norm_text"))

  /** PII redaction → (id, redacted_text, n_redactions): email-,
    * URL-, and long-digit-run-shaped substrings are replaced with
    * `<EMAIL>`/`<URL>`/`<NUM>` placeholder tokens (the destructive
    * counterpart of the x28g scan, which only counts). Patterns live in
    * the Java∩RE2 dialect intersection (same as the scan) so the
    * behavior is engine-reproducible. Pure row-local projection. */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
    // whitespace spelled explicitly (the Java∩RE2 class normalizeText
    // uses): the old `[^ ]+` matched across tabs/newlines, so a URL at
    // end-of-line swallowed the newline and the next line's leading text
    val url = "https?://[^ \\t\\n\\r\\f]+"
    val digits = "[0-9][0-9][0-9][0-9]+"
    // URL first: an email inside a URL's query string is the URL's problem;
    // digit runs last so they can't eat an address or URL fragment.
    // Counts run on the SAME intermediate strings as the replacements —
    // counting all three patterns on the original text double-counts an
    // email/digit run sitting inside a URL, so n_redactions would exceed
    // the placeholders actually inserted
    val afterUrl = regexp_replace(col(textCol), url, "<URL>")
    val afterEmail = regexp_replace(afterUrl, email, "<EMAIL>")
    val nRed = regexp_count(col(textCol), lit(url)) +
      regexp_count(afterUrl, lit(email)) +
      regexp_count(afterEmail, lit(digits))
    docs.select(col(idCol),
      regexp_replace(afterEmail, digits, "<NUM>").as("redacted_text"),
      nRed.cast("long").as("n_redactions"))
  }

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv 2302.03169): score every document
    * by how much more likely its hashed n-gram features are under a
    * TARGET domain's feature distribution than under the rest of the
    * corpus → (doc_id, n_feats, logw), logw = Σ_features
    * [ln p_target(bucket) − ln p_raw(bucket)]. High logw = looks like the
    * target domain; select by thresholding downstream ([[difficultyBuckets]]
    * and the quality cuts compose directly on logw).
    *
    * Features are unigrams AND adjacent bigrams (the paper's hashed
    * n-gram model), hashed into `nBuckets` buckets with the PORTABLE
    * content hash (sha-derived [[hash16]] mod nBuckets) — both engines
    * and any partitioning agree on every bucket assignment, not just the
    * histogram. Bucket probabilities are add-one smoothed over feature
    * OCCURRENCES; the per-bucket log ratio is quantized to integer
    * micro-nats ONCE per bucket (the x28j recipe: libm paid per bucket,
    * not per occurrence), so the per-document sum is exact integer
    * arithmetic with one division at the end.
    *
    * Scale shape: feature extraction is a row-local explode; the bucket
    * hash is `xxhash64` per occurrence (one hash instruction — library
    * callers don't replay results in a second engine, the minhash
    * precedent), the (bucket, side) model aggregation map-side-combines
    * to ≤ nBuckets rows, the λ table attaches back by broadcast, and the
    * only data-sized shuffle is the per-document sum of (doc_id, λ) int
    * pairs. Documents with zero features are absent (nothing to score).
    * The fixture query binds [[dsirWeightsPortable]] — the sha-hashed,
    * DuckDB-replayable twin. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 256): DataFrame =
    dsirWeightsFromBucketed(
      dsirBucketed(docs, idCol, textCol, isTarget, nBuckets), nBuckets)

  /** The bucketed (doc_id, is_t, b) occurrence stream [[dsirWeights]]
    * scores — exposed because the scoring traverses it on THREE plan
    * branches (model counts, λ broadcast, final per-doc sum), and Spark
    * plans DataFrame reuse as duplicate lineage: a caller at scale
    * builds this once, persists it, and feeds
    * [[dsirWeightsFromBucketed]] instead of paying the corpus explode
    * per branch (the same contract as [[tokenCounts]] / the
    * `FromCounts` LM scorers). */
  def dsirBucketed(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 256): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    dsirFeats(docs, idCol, textCol, isTarget)
      .withColumn("b", pmod(xxhash64(col("f")), lit(nBuckets.toLong)).cast("int"))
      .select(col("doc_id"), col("is_t"), col("b"))
  }

  /** [[dsirWeights]] over a pre-built (ideally persisted)
    * [[dsirBucketed]] relation. Columns bind by NAME
    * (doc_id, is_t, b). */
  def dsirWeightsFromBucketed(feats: DataFrame, nBuckets: Int = 256): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    dsirScore(feats.select(col("doc_id"), col("is_t"), col("b")), nBuckets)
  }

  /** The oracle-checkable DSIR twin: buckets from the PORTABLE
    * sha-derived [[hash16]], paid once per feature TYPE — the distinct
    * type relation is hashed, then attaches to the occurrence stream by
    * broadcast (valid wherever the type vocabulary is broadcastable; the
    * at-scale per-occurrence form is [[dsirWeights]]). Identical model
    * arithmetic; the x49 oracle replays this variant end-to-end. */
  private[graft] def dsirWeightsPortable(docs: DataFrame, idCol: String,
      textCol: String, isTarget: Column, nBuckets: Int = 256): DataFrame =
    dsirWeightsFromBucketed(
      dsirBucketedPortable(docs, idCol, textCol, isTarget, nBuckets), nBuckets)

  /** The portable twin's bucketed occurrence stream
    * (doc_id, is_t, b) — exposed separately so a caller scoring more
    * than once (the fixture gate does: the model branch, the λ
    * broadcast, and the final sum each traverse it) can persist it
    * instead of re-exploding the corpus per branch. */
  private[graft] def dsirBucketedPortable(docs: DataFrame, idCol: String,
      textCol: String, isTarget: Column, nBuckets: Int = 256): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    val raw = dsirFeats(docs, idCol, textCol, isTarget)
    val fTypes = raw.select(col("f")).distinct()
      .withColumn("b", hash16(col("f")) % nBuckets)
    raw.join(broadcast(fTypes), "f")
      .select(col("doc_id"), col("is_t"), col("b"))
  }

  /** (doc_id, is_t, f) occurrence stream: unigrams + adjacent bigrams,
    * with multiplicity — row-local explode, no shuffle. */
  private def dsirFeats(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame =
    docs.select(col(idCol).as("doc_id"), isTarget.as("is_t"),
      explode(concat(DedupOps.tokens(col(textCol)),
        graft.functions.TextFunctions.token_bigrams(col(textCol)))).as("f"))

  /** The shared DSIR model + scoring over a bucketed
    * (doc_id, is_t, b) occurrence stream. */
  private def dsirScore(feats: DataFrame, nBuckets: Int): DataFrame = {
    val cnt = feats.groupBy(col("b")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), 1L).otherwise(0L)).as("cr"))
    val tot = cnt.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    // every bucket 0..B-1 exists in the λ relation — empty buckets still
    // carry smoothed mass, exactly as the model defines them
    val lam = feats.sparkSession.range(0, nBuckets)
      .select(col("id").cast("int").as("b"))
      .join(cnt, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        round((log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double")
            / (col("tt") + lit(nBuckets.toLong)).cast("double"))
          - log((coalesce(col("cr"), lit(0L)) + lit(1L)).cast("double")
            / (col("tr") + lit(nBuckets.toLong)).cast("double"))) * 1e6)
          .cast("long").as("lam"))
    feats.join(broadcast(lam), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lam")).as("s"))
      .select(col("doc_id"), col("n_feats"),
        round(col("s").cast("double") / 1e6, 6).as("logw"))
  }

  /** Within-document repetition metrics (Gopher-rule-style quality
    * signals) → (id, n_2grams, top_2gram_frac, dup_3gram_frac):
    *  - `top_2gram_frac`: fraction of bigram instances taken by the single
    *    most frequent bigram — high ⇒ boilerplate/looping text;
    *  - `dup_3gram_frac`: fraction of trigram instances whose trigram
    *    occurs more than once in the document.
    * Docs too short for an n-gram get NULL for that fraction (and 0 for
    * `n_2grams`). Both statistics depend only on one document's own
    * tokens, so they are computed ROW-LOCALLY with sorted-run list
    * algebra: `array_sort` the gram list, collect the 0-based start
    * indices of each distinct run (positions where `g[i] != g[i-1]`) plus
    * a closing `size`, and read the run lengths off consecutive boundary
    * diffs — max run = top-gram count, sum of runs ≥ 2 = duplicated-gram
    * instances. O(n log n) per document and ZERO shuffle (the plan is one
    * projection over the scan, guarded by PlanSpec); the previous
    * explode+groupBy(doc, n, gram) form shuffled ~5× the corpus bytes for
    * what is a per-document map at 100 TB. */
  // ---- sorted-run list algebra (repetitionStats + tokenEntropy) ----
  // Callers MUST stage each result as an aliased column in its own
  // projection: each aliases a non-cheap array (the sort, then the
  // boundary list) so every later reference is an O(1) attribute
  // lookup. Inlining these as one expression tree would re-evaluate the
  // sort inside the per-element filter lambda (higher-order functions
  // run interpreted, with no subexpression elimination) — O(n^2 log n)
  // per document; CollapseProject keeps the stages apart because the
  // aliases are non-cheap and multiply referenced.
  // boundary list: 0-based start index of each distinct run in the
  // sorted array, plus a closing size(s). The Or short-circuits
  // left-to-right, so element_at never sees index 0; the empty array
  // degenerates to [0, 0] -> one zero-length run.
  private def runBounds(s: Column): Column = concat(
    filter(sequence(lit(0), greatest(size(s) - 1, lit(0))),
      i => (i === 0) || (element_at(s, i + 1) =!= element_at(s, i))),
    array(size(s)))
  private def runLens(b: Column): Column = zip_with(
    slice(b, lit(2), size(b) - 1), slice(b, lit(1), size(b) - 1),
    (next, cur) => next - cur)

  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = DedupOps.tokens(col(textCol))
    docs
      .select(col(idCol),
        array_sort(ngrams(toks, 2)).as("sg2"),
        array_sort(ngrams(toks, 3)).as("sg3"))
      .select(col(idCol),
        size(col("sg2")).as("n2"), size(col("sg3")).as("n3"),
        runBounds(col("sg2")).as("b2"), runBounds(col("sg3")).as("b3"))
      .select(col(idCol), col("n2"), col("n3"),
        runLens(col("b2")).as("l2"), runLens(col("b3")).as("l3"))
      .select(col(idCol),
        col("n2").cast("long").as("n_2grams"),
        when(col("n2") > 0,
          round(array_max(col("l2")).cast("double") / col("n2"), 6))
          .as("top_2gram_frac"),
        when(col("n3") > 0,
          round(aggregate(col("l3"), lit(0),
              (acc, r) => acc + when(r >= 2, r).otherwise(0)).cast("double")
            / col("n3"), 6)).as("dup_3gram_frac"))
  }

  /** Per-document unigram entropy (nats) → (doc_id, n_toks, entropy):
    * H = −Σ_types (c/n)·ln(c/n) over the document's OWN token
    * distribution — the cheap diversity/quality signal next to the
    * repetition fractions (boilerplate and keyword-stuffed text carry
    * low entropy; natural prose sits near ln of its effective
    * vocabulary). Documents with zero tokens are absent.
    *
    * Computed ROW-LOCALLY with the same sorted-run list algebra as
    * [[repetitionStats]] (type counts = run lengths of the sorted token
    * array — zero shuffle, a per-document map at 100 TB), and made
    * portable with the x28j recipe: per-type surprisal ln(n/c) is
    * quantized to integer micro-nats, the Σ c·surprisal accumulates in
    * exact integer arithmetic (order-invariant), and ONE division at the
    * end returns nats. */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        array_sort(DedupOps.tokens(col(textCol))).as("st"))
      .select(col("doc_id"), size(col("st")).as("n"),
        runBounds(col("st")).as("bnd"))
      .select(col("doc_id"), col("n"), runLens(col("bnd")).as("runs"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n").cast("long").as("n_toks"),
        round(
          aggregate(col("runs"), lit(0L), (acc, c) =>
            acc + c.cast("long") *
              round(log(col("n").cast("double") / c.cast("double")) * 1e6)
                .cast("long")).cast("double")
            / (col("n").cast("double") * 1e6), 6).as("entropy"))

  // ───────────────────────── round-11 additions ─────────────────────────

  /** The winnowing SELECTION over a per-position k-gram hash array: the
    * absolute positions picked by sliding a `window`-wide frame and
    * keeping the MINIMUM hash, ties → RIGHTMOST (the Schleimer/Wilkerson/
    * Aiken MOSS rule — rightmost ties is what makes adjacent windows
    * reuse the previous pick and bounds fingerprint density at ~2/(w+1)).
    * Entirely row-local array algebra: zero shuffle, a per-document map
    * at any corpus size. Fewer than `window` k-grams → one whole-array
    * window (every non-empty doc yields ≥ 1 fingerprint).
    *
    * This composed-lambda form is the REFERENCE twin: the shipped path
    * is the native O(n) monotonic-deque expression
    * [[graft.functions.WinnowSelect]] (the nested fold here interprets
    * O(n·w) lambda steps per document and dominated the x67 profile);
    * TextExprSpec asserts bit-equality between the two. */
  private[graft] def winnowSelectComposed(kh: Column, window: Int): Column = {
    val nwin = when(size(kh) >= window, size(kh) - (window - 1))
      .otherwise(lit(1))
    array_distinct(transform(sequence(lit(1), nwin), j => {
      val win = slice(kh, j, lit(window))
      // rightmost-min fold over window indices: acc starts at 1, each
      // later index wins on <= — the seed-free DuckDB list_reduce
      // replays the identical fold
      val idx = when(size(win) >= 2,
        aggregate(sequence(lit(2), size(win)), lit(1),
          (acc, i) => when(element_at(win, i) <= element_at(win, acc), i)
            .otherwise(acc)))
        .otherwise(lit(1))
      j - 1 + idx
    }))
  }

  /** Winnowing document fingerprints → (doc_id, pos, fp): the MOSS
    * local-fingerprinting scheme — k-word grams hashed per POSITION
    * (not distinct, unlike the Jaccard shingle relation), a w-wide
    * sliding window keeps each window's min hash (ties → rightmost),
    * and the selected (position, hash) set is the document's
    * fingerprint. The guarantee the scheme is chosen for: any shared
    * run of ≥ w + k − 1 tokens between two documents is CAUGHT by at
    * least one shared fingerprint, while density stays ~2/(w+1) —
    * near-dup detection with positional evidence at ~25 % of the
    * full shingle relation's size.
    *
    * Hashes are the 32-bit sha-prefix ([[graft.ops.DedupOps.sha32]]),
    * the portable fixture hash, so the DuckDB oracle replays the whole
    * pipeline. Scale shape: fingerprinting is row-local (see
    * [[winnowSelectComposed]] for the reference semantics); only the selected ~2n/(w+1) fingerprints ever
    * reach a shuffle. */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, s"k and window must be >= 1")
    // one-pass native k-gram hashing (Sha32KgramHashes ≡ the composed
    // tokens→slice→join→sha32 chain — bit-equality in TextExprSpec);
    // empty arrays (< k tokens) drop exactly like the size(tk) filter did
    val withKh = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.sha32_kgrams(col(textCol), k).as("kh"))
      .filter(size(col("kh")) >= 1)
    withKh
      .select(col("doc_id"), col("kh"),
        explode(graft.functions.TextFunctions.winnow_select(col("kh"), window))
          .as("p"))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        element_at(col("kh"), col("p")).as("fp"))
  }

  /** Shared-fingerprint document pairs → (d1, d2, n_shared), d1 < d2:
    * the pair relation over [[winnowingFingerprints]] — two documents
    * pair when they share ≥ 1 selected fingerprint VALUE, with the
    * count of distinct shared values as the match weight. The
    * winnowing guarantee makes this the cheap contiguous-overlap
    * detector: any shared token run of ≥ window + k − 1 produces a
    * pair. Scale shape: distinct (doc, fp) → one equi-join on the
    * 8-byte fingerprint ([[graft.ops.DedupOps.coocPairs]]); density
    * ~2/(w+1) of the shingle relation the Jaccard path joins. */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4): DataFrame =
    DedupOps.coocPairs(
      winnowingFingerprints(docs, idCol, textCol, k, window)
        .select(col("doc_id"), col("fp")).distinct(),
      "fp")
      .select(col("d1"), col("d2"), col("inter").as("n_shared"))

  /** Contamination SPAN offsets → (doc_id, probe_id, start_pos, end_pos,
    * n_shingles, span_tokens): where [[contaminationPairs]] reports THAT
    * a corpus document contains an eval document's shingles, this
    * reports WHERE — every maximal run of consecutive k-gram positions
    * in the corpus document whose hashes appear in the probe, the
    * offsets a surgical decontamination pass excises (drop the span,
    * keep the document) instead of dropping whole documents. Positions
    * are 1-based k-gram indices; a span covers tokens
    * [start_pos, end_pos + k − 1], i.e. `span_tokens` = end_pos −
    * start_pos + k tokens.
    *
    * Scale shape: corpus k-grams stay (id, pos, hash8) rows; the probe
    * side reduces to its DISTINCT hash set (eval suites are small —
    * broadcast); matches coalesce into runs with ONE window partitioned
    * by (doc, probe) ordered by position — the islands trick, state
    * bounded by a document's own match count. */
  def contaminationSpans(corpus: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, k: Int = 3): DataFrame = {
    require(k >= 1)
    def kgramPos(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).as(outId),
          graft.functions.TextFunctions.sha32_kgrams(col(textCol), k).as("kh"))
        .filter(size(col("kh")) >= 1)
        .select(col(outId), posexplode(col("kh")))
        .select(col(outId), (col("pos") + 1).cast("long").as("p"),
          col("col").as("shh"))
    val hits = kgramPos(corpus, "doc_id")
      .join(broadcast(kgramPos(probes, "probe_id")
        .select(col("probe_id"), col("shh")).distinct()), Seq("shh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("probe_id")).orderBy(col("p"))
    hits
      .withColumn("grp", col("p") - row_number().over(w))
      .groupBy(col("doc_id"), col("probe_id"), col("grp"))
      .agg(min(col("p")).as("start_pos"), max(col("p")).as("end_pos"),
        count(lit(1)).as("n_shingles"))
      .select(col("doc_id"), col("probe_id"), col("start_pos"),
        col("end_pos"),
        col("n_shingles"),
        (col("end_pos") - col("start_pos") + k).as("span_tokens"))
  }

  /** Span EXCISION — the surgical-decontamination completion of
    * [[contaminationSpans]]: given (doc_id, start_pos, end_pos) spans in
    * 1-based k-gram indices, rebuild each document's token stream with
    * every covered token range [start_pos, end_pos + k − 1] removed
    * (overlapping spans from different probes merge by coverage — a
    * token survives iff NO span covers it) → (doc_id, n_tokens,
    * n_removed, clean_text). Documents without spans pass through
    * whole. The operator drops the SPAN and keeps the document — the
    * alternative ([[curationVerdicts]]' contamination rule) drops whole
    * documents and with them every clean token they carried. Tokens are
    * the lowercased whitespace stream (the pipeline's normalization);
    * clean_text re-joins with single spaces.
    *
    * Scale shape: spans aggregate to one array per doc (bounded by the
    * doc's own match count), attach by ONE left equi-join on doc id,
    * and the rebuild is row-local array algebra. */
  def exciseSpans(docs: DataFrame, spans: DataFrame, idCol: String,
      textCol: String, k: Int = 3): DataFrame = {
    require(k >= 1)
    val spanArr = spans
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_pos").as("s"),
        (col("end_pos") + (k - 1)).as("e"))).as("spans"))
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), DedupOps.tokens(col(textCol)).as("tk"))
      .join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tk"),
        coalesce(col("spans"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("spans"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n_tokens"),
        // sequence(1, 0) steps BACKWARDS in Spark (the shingles guard):
        // zero-token docs get an explicit empty kept list
        when(size(col("tk")) >= 1,
          expr("filter(sequence(1, size(tk)), i -> NOT exists(spans," +
            " sp -> i >= sp.s AND i <= sp.e))"))
          .otherwise(array().cast("array<int>")).as("kept"))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        expr("array_join(transform(kept, i -> element_at(tk, i)), ' ')")
          .as("clean_text"))
  }

  /** Duplicated-shingle MASS per group: of each group's distinct
    * (doc, shingle) instances, the exact micro fraction whose shingle
    * occurs in ≥ 2 documents corpus-wide, with the corpus-level
    * fraction broadcast. This is duplication measured as TOKEN-MASS
    * EXPOSURE rather than document pairs — the x26 pair relation says
    * which docs pair, x106 says how concentrated the clusters are, this
    * says how much of each source's raw text a model will effectively
    * see twice (the repeated-n-gram statistic large-corpus reports
    * quote). Input is the distinct per-doc shingle-hash relation (the
    * shared x26 cache).
    *
    * Scale shape: one (hash → occurrence count) aggregation on the
    * 8-byte key, one hash join back to instances, one group
    * aggregation — no pair join anywhere (pair-free by construction,
    * unlike every x26 family member). */
  def dupShingleMass(shingles: DataFrame, docs: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    val sh = shingles.toDF("doc_id", "k")
    val df = sh.groupBy(col("k")).agg(count(lit(1)).as("n_docs"))
    // the per-group relation feeds the output AND the corpus-total
    // broadcast — eager localCheckpoint materializes the whole
    // occurrence-count + instance-join chain once at group grain (r17;
    // runtime exchange reuse deduped the shuffles but re-ran both final
    // aggregations over the instance-grain join output)
    val g = sh.join(df, Seq("k"))
      .join(docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp"))
        .filter(col("grp").isNotNull), Seq("doc_id"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_instances"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("grp"), col("n_instances"), col("n_dup"),
        expr("(1000000 * n_dup) div n_instances").as("dup_micros"))
      .localCheckpoint(true)
    g.crossJoin(broadcast(g.agg(
      expr("(1000000 * sum(n_dup)) div sum(n_instances)")
        .as("corpus_dup_micros"))))
  }

  /** Chao1 species-richness estimate of the vocabulary: from the type
    * frequency spectrum (f1 singletons, f2 doubletons), the
    * bias-corrected estimate of the TOTAL vocabulary including unseen
    * types — chao1 = V + f1·(f1−1) div (2·(f2+1)), exact integer —
    * plus the unseen fraction in micros. Answers "how much vocabulary
    * does this corpus still owe us": a near-zero unseen fraction says
    * more data adds tokens, not types (vocab-sizing can freeze);
    * [[vocabCoverageCurve]] reads the seen head, [[goodTuringMass]]
    * prices the unseen PROBABILITY mass, this counts the unseen TYPES.
    * Input binds by name to a (tok, tf)-shaped counts relation (the
    * [[tokenCounts]] cache).
    *
    * Scale shape: one (type → total) aggregation over the shared counts
    * relation, then one scalar reduce over the type relation. */
  def chao1Richness(counts: DataFrame): DataFrame =
    counts.groupBy(col("tok")).agg(sum(col("tf")).as("c"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_types"), col("n_tokens"), col("f1"), col("f2"),
        (col("n_types") + expr("(f1 * (f1 - 1)) div (2 * (f2 + 1))"))
          .as("chao1_est"))
      .withColumn("unseen_micros",
        when(col("chao1_est") === 0, lit(null))
          .otherwise(expr("(1000000 * (chao1_est - n_types)) div chao1_est")))

  /** Sorted-neighborhood candidate pairs (the record-linkage SNM
    * blocking method — Hernández/Stolfo): documents sorted by a
    * normalized key pair within a sliding rank window of width `w`,
    * run in TWO passes (prefix key and reversed-prefix key) whose
    * union is the multi-key form that covers the single-key method's
    * boundary misses. The third blocking mechanism beside hash banding
    * (MinHash/SimHash bands) and sorted prefixes (x92): SNM catches
    * near-dups whose SHARED PART is the sort key — leading boilerplate,
    * shared titles — at n·w pairs per pass, never n².
    *
    * Scale shape: ranks are per-BLOCK windows (2-char key blocks), not
    * one global sort — block-boundary misses are the documented
    * single-pass gap the second key pass exists to cover; the window
    * join is an explode of `w` offsets + one equi-join on (block,
    * rank). */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame = {
    require(w >= 1, s"need window >= 1, got $w")
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", "")
    def pass(key: Column, passName: String): DataFrame = {
      val keyed = docs
        .filter(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol).as("id"), key.as("k"),
          substring(key, 1, 2).as("block"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("block")).orderBy(col("k"), col("id"))
      val ranked = keyed.withColumn("rank", row_number().over(win))
      ranked.select(col("block"), col("id").as("ida"), col("rank"),
          explode(sequence(lit(1), lit(w))).as("off"))
        .select(col("block"), col("ida"),
          (col("rank") + col("off")).as("rank2"))
        .join(ranked.select(col("block"), col("id").as("idb"),
          col("rank").as("rank2")), Seq("block", "rank2"))
        .select(least(col("ida"), col("idb")).as("d1"),
          greatest(col("ida"), col("idb")).as("d2"),
          lit(passName).as("pass"))
    }
    pass(substring(norm, 1, 24), "prefix")
      .unionAll(pass(substring(reverse(norm), 1, 24), "suffix"))
      .groupBy(col("d1"), col("d2"))
      .agg(countDistinct(col("pass")).as("n_passes"))
  }

  /** Rank-fusion quality scoring via bucketized ECDFs →
    * (id, b_<signal>..., fused): each INTEGER signal is mapped to its
    * corpus decile (bucket = how many of the nBuckets−1 exact percentile
    * edges lie at or below the value), and the fused score is the mean
    * bucket — the standard way to combine incommensurable quality
    * signals (length, diversity, size) without hand-tuned weights:
    * every signal contributes on the same 0..nBuckets−1 scale
    * regardless of its units or distribution.
    *
    * Scale shape deliberately avoids the textbook percent_rank: a
    * whole-corpus window with no partition key moves EVERYTHING to one
    * partition. Instead ONE aggregation computes (nBuckets−1) edges per
    * signal (`percentile` — exact and portable on integer inputs, the
    * q08b pair), the tiny edge relation broadcasts, and bucket
    * assignment is a row-local comparison count — the x44 threshold
    * pattern generalized to every signal at once. Signals must be
    * integer-valued ([[tokenStats]] counts are the intended inputs);
    * rows with any NULL signal are dropped. */
  def ecdfFusion(rows: DataFrame, idCol: String, signalCols: Seq[String],
      nBuckets: Int = 10): DataFrame = {
    require(signalCols.nonEmpty, "need at least one signal column")
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val base = rows
      .select(col(idCol).as("id") +:
        signalCols.map(c => col(c).cast("long").as(c)): _*)
      .na.drop(signalCols)
    val edges = base.agg(
      expr(s"percentile(`${signalCols.head}`, array(${qs.mkString(", ")}))")
        .as(s"__e_${signalCols.head}"),
      signalCols.tail.map(c =>
        expr(s"percentile(`$c`, array(${qs.mkString(", ")}))").as(s"__e_$c")): _*)
    val bucketed = base.crossJoin(broadcast(edges))
      .select(col("id") +: signalCols.map(c =>
        size(filter(transform(col(s"__e_$c"), e => round(e, 6)),
          e => e <= col(c))).cast("long").as(s"b_$c")): _*)
    bucketed.select(col("id") +: signalCols.map(c => col(s"b_$c")) :+
      round(signalCols.map(c => col(s"b_$c")).reduce(_ + _).cast("double")
        / signalCols.size, 6).as("fused"): _*)
  }

  /** Jelinek-Mercer interpolated bigram LM scoring → (doc_id, n_bigrams,
    * avg_nll): mean surprisal under P(w2|w1) = λ·c(w1w2)/c(w1) +
    * (1−λ)·c(w2)/N — the interpolated-backoff form that scores unseen
    * continuations by their unigram mass instead of a uniform Laplace
    * floor, the standard fluency filter one notch above
    * [[bigramLmScores]]. Both component ratios are ratios of corpus
    * counts, so with the corpus scoring itself every bigram has
    * c(w1w2) ≥ 1 and the log argument is always positive.
    *
    * Portability: surprisal is quantized ONCE per bigram TYPE to
    * integer micro-nats with the division/FMA order written out
    * (λ·(c12/c1) + (1−λ)·(c2/N), each division its own IEEE op — the
    * x28j recipe extended to a two-term argument), so per-doc sums are
    * exact integers. Scale shape: two count aggregations (bigram,
    * unigram types), one broadcast scalar N, one join of doc-bigram
    * multiplicities against the type table — no per-token shuffle. */
  def interpolatedBigramLm(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame =
    interpolatedBigramLmFromCounts(
      bigramCounts(docs, idCol, textCol),
      tokenCounts(docs, idCol, textCol), lambda)

  /** [[interpolatedBigramLm]] over pre-built (ideally persisted)
    * [[bigramCounts]] / [[tokenCounts]] relations — the r16 rewrite: the
    * direct form tokenized the corpus on THREE plan branches (doc-bigram,
    * unigram, and the type-table's re-aggregation of doc-bigram); the
    * fixture binding rides the shared tf/bg caches instead, so x70 pays
    * zero tokenization passes of its own. Identical arithmetic: the
    * doc-grain bigram multiplicities and corpus unigram counts are the
    * same relations the direct form derived (bigram types key the join
    * as the packed "w1 w2" string; w1/w2 re-split only at TYPE grain,
    * where the per-row cost is bounded by vocabulary, not corpus). */
  def interpolatedBigramLmFromCounts(bigramCounts: DataFrame,
      tokenCounts: DataFrame, lambda: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1), got $lambda")
    val docBg = bigramCounts
      .select(col("doc_id"), col("bigram"), col("bf").as("dc"))
    // vocabulary margins materialize once (r17): the token total and
    // BOTH per-side joins read uni — the (possibly unpersisted) token
    // count relation re-aggregated three times otherwise
    val uni = tokenCounts.groupBy(col("tok").as("w"))
      .agg(sum(col("tf")).as("cw"))
      .localCheckpoint(true)
    val nTot = uni.agg(sum(col("cw")).as("nn"))
    // tokens cannot contain the separator (they come from a split on
    // it), so the packed bigram string splits back losslessly
    val ltab = docBg.groupBy(col("bigram"))
      .agg(sum(col("dc")).as("c12"))
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .select(col("bigram"),
        round(-log(
          lit(lambda) * (col("c12").cast("double") / col("c1"))
            + lit(1.0 - lambda) * (col("c2").cast("double") / col("nn")))
          * 1e6).cast("long").as("L"))
    docBg.join(ltab, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).as("n_bigrams"),
        sum(col("dc") * col("L")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s").cast("double") / (col("n_bigrams") * 1e6), 6)
          .as("avg_nll"))
  }

  /** Triangle statistics over an undirected pair graph → (id, degree,
    * n_triangles, clustering): per-node triangle membership and local
    * clustering coefficient 2T/(d·(d−1)) — the dedup-graph diagnostic
    * that separates CLIQUE-shaped duplicate families (mirrors: every
    * pair verified, clustering → 1) from CHAIN-shaped ones (template
    * drift: A~B~C but A̸~C, clustering → 0), which tells a curation team
    * whether min-id cluster survivors are safe (cliques) or lossy
    * (chains). Nodes are every endpoint in `pairs`; self-loops dropped,
    * direction ignored.
    *
    * Scale shape: edges orient low→high id, so each triangle is
    * enumerated exactly once by one equi-join (wedges on the middle
    * node) + one semi-join (closing edge) — never an all-pairs
    * expansion. Near-dup graphs are bounded-degree by construction
    * (LSH candidate caps); for a skewed graph swap the id orientation
    * for degree-ordering, the standard hub-taming refinement. */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val e = pairs
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val deg = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"),
        "left_semi")
    val triCnt = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(triCnt, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(coalesce(col("n_triangles"), lit(0L)).cast("double") * 2
            / (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** PageRank over an undirected pair graph in INTEGER micro-units →
    * (id, degree, rank_micro): the iterative-BSP centrality that ranks
    * duplicate-family hubs (a document near-duplicating many documents
    * that themselves near-duplicate others) above chain endpoints —
    * x71's triangle census says what SHAPE a family has, this says who
    * anchors it. Undirected graph: both edge directions participate, so
    * there are no dangling nodes (every endpoint has degree ≥ 1) and no
    * lost rank mass to redistribute.
    *
    * Determinism is the design constraint: ranks live in integer
    * micro-units (start 1 000 000), each node passes `rank div degree`
    * to every neighbour (integer division — truncation is deterministic
    * where a float ratio's libm rounding is not), and the update is
    * r' = (100−dampingPct)·10⁴ + (dampingPct · Σ contrib) div 100 —
    * pure Long arithmetic whose sums are associative, so the result is
    * partitioning-independent and a second engine replays it exactly.
    * Rank mass is approximately conserved (truncation leaks < 1 micro
    * per edge per round); ORDERING of nodes by rank — the useful output
    * — is what the integer form preserves bit-exactly.
    *
    * Scale shape: the edge relation (with the source's degree attached)
    * is built and materialized once; each iteration is ONE shuffle —
    * join ranks to edges on src + re-aggregate by dst — and the rank
    * lineage is truncated with `localCheckpoint(eager)` every
    * `truncateEvery` rounds (the [[graft.ops.DedupOps.connectedComponents]]
    * idiom): without periodic truncation the plan tree GROWS per round
    * and the driver re-analyzes a super-linearly expanding query — the
    * classic Pregel/GraphX lineage discipline, expressed relationally.
    * Between truncation points the rounds stay LAZY (r17): the rank
    * update is a linear chain (each round consumed exactly once by the
    * next), so a k-round chunk is one k-shuffle job instead of k
    * materialization jobs — the per-round barrier bought nothing but
    * scheduler latency. */
  def pageRankMicro(pairs: DataFrame, iterations: Int = 5,
      dampingPct: Int = 85, truncateEvery: Int = 8): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(truncateEvery >= 1 && truncateEvery <= 16,
      s"truncateEvery must be in [1, 16] (a plan-size guard: each lazy " +
        s"round adds a join and an aggregation to the plan), got $truncateEvery")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    val e0 = pairs
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val edges = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
    val adj = edges
      .join(deg.select(col("id").as("src"), col("degree")), Seq("src"))
      .localCheckpoint(true)
    val baseMicro = (100L - dampingPct) * 10000L
    var ranks = deg.select(col("id"), lit(1000000L).as("rank_micro"))
      .localCheckpoint(true)
    for (i <- 1 to iterations) {
      ranks = adj
        .join(ranks.select(col("id").as("src"), col("rank_micro")), Seq("src"))
        .select(col("dst").as("id"),
          expr("rank_micro div degree").as("contrib"))
        .groupBy(col("id"))
        .agg(sum(col("contrib")).as("s"))
        .select(col("id"),
          (lit(baseMicro) +
            expr(s"(${dampingPct}L * s) div 100L")).as("rank_micro"))
      // truncate lineage (and release prior chunks to GC) only at chunk
      // boundaries — rounds in between compose lazily into one job
      if (i % truncateEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    deg.join(ranks, Seq("id"))
      .select(col("id"), col("degree"), col("rank_micro"))
  }

  /** Eigenvector centrality by max-normalized power iteration — the
    * "connected to important nodes" read beside [[pageRankMicro]]'s
    * damped random walk: PageRank dilutes a hub's vote by its degree,
    * eigenvector centrality does NOT, so a document quoted by the
    * corpus's dominant template family outranks one quoted by many
    * isolated stragglers. On a dup graph the top scores trace the
    * largest, densest duplicate component (power iteration converges
    * to the dominant component's principal eigenvector; satellite
    * components decay toward 0 under the shared max normalization).
    *
    * Exactness: each round is an exact integer neighbor sum followed
    * by ONE truncated max-normalization ⌊10⁶·s/max(s)⌋ — the division
    * happens once per (node, round), operands nonnegative, so both
    * engines replay every round bit-for-bit; iteration count fixed.
    *
    * Scale shape: per round one equi-join on src + one aggregation —
    * the x72 shape; `iterations` bounds total work; lineage truncated
    * after every round (localCheckpoint) so the loop never stacks
    * unbounded plans. UNLIKE the x72 shape, rounds here must NOT
    * compose lazily: the max-normalization references its round's sums
    * relation twice (the broadcast max and the normalized scores), so a
    * lazy chunk's plan — and the executed work: the duplicated
    * aggregate feeds a BROADCAST on one branch and a projection on the
    * other, shapes runtime exchange reuse does not unify — DOUBLES per
    * round. Measured (r17, sf0.1): truncating every 2nd round ⇒
    * 5.6–10 s warm vs 2.1 s every round, and every interval above 1
    * measured 2.7–4.8× slower. The only lazy round is the LAST, whose
    * checkpoint nobody re-reads. */
  def eigenvectorCentrality(pairs: DataFrame,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    val e0 = pairs
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val edges = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true) // feeds every round + the degree read
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
    var score = deg.select(col("id"), lit(1000000L).as("e"))
      .localCheckpoint(true)
    for (i <- 1 to iterations) {
      val sums = edges
        .join(score.select(col("id").as("src"), col("e")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("e")).as("s"))
      val mx = sums.agg(max(col("s")).as("mx"))
      score = sums.crossJoin(broadcast(mx))
        .select(col("id"),
          expr("CAST((1000000 * CAST(s AS DECIMAL(38,0))) div mx" +
            " AS BIGINT)").as("e"))
      // truncate lineage after every round but the last (see docstring)
      if (i < iterations) score = score.localCheckpoint(true)
    }
    deg.join(score, Seq("id"))
      .select(col("id"), col("degree"), col("e").as("eigen_micro"))
  }

  /** Hard-negative mining for contrastive / retrieval training →
    * (q_id, c_id, sim, rank): for each query, the k corpus rows MOST
    * similar while staying BELOW the positive threshold — the
    * informative negatives that sit just outside the near-duplicate
    * band (a random negative teaches a retriever nothing; a
    * near-duplicate mislabeled as negative poisons it; the band in
    * between is where the training signal lives). `posThreshold` should
    * match the near-dup threshold of the dedup pass that defines
    * positives (the x26d fixture convention: 0.4), so the two relations
    * partition the similarity axis with no gap and no overlap.
    *
    * Same exactness/shape contract as [[cosineTopK]]: queries
    * broadcast, the corpus side fans out, NULL sims (zero vectors)
    * can't occupy ranks — here the strict `sim < posThreshold` filter
    * removes them before ranking. For large query sets compose the
    * LSH/IVF candidate forms and apply the same band filter to their
    * exact re-rank. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, posThreshold: Double = 0.4): DataFrame = {
    import graft.functions.VectorFunctions.cosine_sim
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
    val c = corpus.select(col(idCol).as("c_id"), col(embCol).as("c_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    VectorOps.fanOut(c).crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(cosine_sim(col("q_emb"), col("c_emb")), 6))
      .filter(col("sim") < posThreshold)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** Shingle-containment pairs → (contained_id, container_id, n_shared,
    * containment): the ASYMMETRIC near-dup relation C(A→B) =
    * |S(A) ∩ S(B)| / |S(A)| — a quote, excerpt, or doc-in-doc embedding
    * scores near 1.0 even when symmetric Jaccard is tiny (a 100-word
    * quote inside a 10 000-word page has J ≈ 0.01), so this is the
    * detector for exactly the duplication Jaccard dedup misses. Both
    * directions emit from the ONE unordered co-occurrence join (the
    * x26 path — the pair relation explodes into its two orientations
    * before the threshold filter, so the join cost is identical to the
    * symmetric scan). Input is any `(doc_id, shh)` shingle relation
    * ([[shingles]]); thresholds compare on the 6-decimal round both
    * engines replay. */
  def containmentPairsFromShingles(shingles: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = shingles.select(col("doc_id"), col("shh"))
    // per-doc sizes materialize once (r17): both orientation attaches
    // read n, re-running the aggregation per side otherwise. Doc grain.
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
      .localCheckpoint(true)
    DedupOps.coocPairs(sh, "shh")
      .join(n.select(col("doc_id").as("d1"), col("ns").as("n1")), Seq("d1"))
      .join(n.select(col("doc_id").as("d2"), col("ns").as("n2")), Seq("d2"))
      .select(explode(array(
        struct(col("d1").as("contained_id"), col("d2").as("container_id"),
          col("inter"),
          round(col("inter").cast("double") / col("n1"), 6).as("c")),
        struct(col("d2").as("contained_id"), col("d1").as("container_id"),
          col("inter"),
          round(col("inter").cast("double") / col("n2"), 6).as("c"))))
        .as("r"))
      .select(col("r.contained_id").as("contained_id"),
        col("r.container_id").as("container_id"),
        col("r.inter").as("n_shared"), col("r.c").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** [[containmentPairsFromShingles]] over raw documents. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    containmentPairsFromShingles(shingles(docs, idCol, textCol), threshold)

  /** BM25 retrieval top-k → (q_id, doc_id, score_micro, rank): the
    * lexical-retrieval primitive of a curation pipeline — finding the
    * corpus documents most relevant to a probe (eval-set decontam
    * beyond n-gram overlap, retrieval labels for embedding training,
    * RAG training-pair mining). Okapi BM25 with the textbook
    * parameters: idf = ln(1 + (N − df + ½)/(df + ½)), per-term weight
    * idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    *
    * Portability: every per-(term, doc) weight is quantized ONCE to an
    * integer micro Long with the operation order written out (each
    * division/multiplication its own IEEE op — the x28j recipe), so
    * per-(query, doc) score sums are exact integers under any
    * partitioning; derived float constants ship as shortest-round-trip
    * literals (`Double.toString`), which every IEEE parser restores
    * bit-exactly. Ranking is (score DESC, doc_id) — fully ordered.
    *
    * Scale shape: the corpus reduces to (doc, term, tf) + a per-doc
    * length ONCE; df and the (N, avgdl) scalars are one aggregation
    * each; the query side reduces to its DISTINCT (q_id, term) relation
    * (probe sets are small — broadcast), so the only large join is
    * query-terms × corpus-postings on the term key, bounded by the df
    * of the query's own terms — the classic inverted-index access path,
    * relationally. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    def terms(df: DataFrame, outId: String) = df
      .select(col(idCol).as(outId), DedupOps.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
    bm25TopKFromCounts(
      terms(corpus, "doc_id")
        .select(col("doc_id"), explode(col("tk")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")),
      terms(queries, "q_id")
        .select(col("q_id"), explode(col("tk")).as("term")).distinct(),
      k, k1, b)
  }

  /** [[bm25TopK]] over a pre-built (ideally persisted) corpus postings
    * relation `(doc_id, term, tf)` and a distinct query-term relation
    * `(q_id, term)` — the postings are referenced on THREE plan
    * branches (doc lengths, df, and the scoring join), so an
    * unpersisted input re-tokenizes the corpus per branch. Columns
    * bind by NAME. */
  def bm25TopKFromCounts(postings: DataFrame, queryTerms: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params: k1=$k1 b=$b")
    val ctf = postings.select(col("doc_id"), col("term"), col("tf"))
    val qdistinct = queryTerms.select(col("term")).distinct()
    // doc lengths materialize once (r17): the scoring join AND the
    // (N, avgdl) scalars read dl — deriving the scalars from dl
    // replaces the third full-postings aggregation pass with a
    // doc-grain reduce (N = |dl| since dl has one row per doc;
    // avgdl = Σdl/N is the identical Σtf / count_distinct(doc) double
    // division, so the scored constants are bit-unchanged)
    val dl = ctf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint(true)
    // df only for the query's own terms: the broadcast semi-join cuts
    // the postings BEFORE the aggregation, so the df shuffle is bounded
    // by query-term postings instead of the whole vocabulary (per-term
    // df is unchanged — filtering by term never alters that term's
    // count). The same bound the scoring join already had.
    val df_ = ctf.join(broadcast(qdistinct), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("nn"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qt = queryTerms.select(col("q_id"), col("term"))
    // shortest-round-trip literals for the derived constants: both
    // engines parse them back to the identical double
    val k1p1 = java.lang.Double.toString(k1 + 1.0)
    val oneMb = java.lang.Double.toString(1.0 - b)
    val scored = ctf
      .join(broadcast(qt), Seq("term"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(df_), Seq("term")) // already query-term-bounded
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        round(
          log(lit(1.0) + (col("nn").cast("double") - col("df").cast("double")
            + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
          * ((col("tf").cast("double") * expr(s"CAST($k1p1 AS DOUBLE)"))
            / (col("tf").cast("double") + expr(s"CAST($k1 AS DOUBLE)")
              * (expr(s"CAST($oneMb AS DOUBLE)") + expr(s"CAST($b AS DOUBLE)")
                * (col("dl").cast("double") / col("avgdl")))))
          * 1e6).cast("long").as("w"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("w")).as("score_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("score_micro"), col("rank"))
  }

  /** Per-source distribution-drift chi-square → (source, n_docs, dof,
    * chi2): how far each source's categorical distribution (language,
    * here any `catCol`) sits from the corpus-wide distribution —
    * χ²_s = Σ_c (O_sc − E_sc)²/E_sc with E_sc = n_s·n_c/N, the
    * contingency-table drift screen next to x63's KL matrix (χ² weights
    * absolute count deviations where KL weights log-ratio mass; a
    * source over-representing one rare language lights up here first).
    * dof = (global category count − 1) for every source, reported so
    * the caller can normalize or look up a p-value.
    *
    * Portability: each (source, category) term is quantized once to
    * integer micros — with E written out as (n_s·n_c)/N, one division —
    * and the per-source sum is exact; the engine and the oracle replay
    * the identical arithmetic. Scale: one (source, category) count
    * aggregation; marginals broadcast. */
  def sourceDriftChi2(docs: DataFrame, srcCol: String,
      catCol: String): DataFrame = {
    val base = docs
      .filter(col(srcCol).isNotNull && col(catCol).isNotNull)
      .select(col(srcCol).as("src"), col(catCol).as("cat"))
    val cell = base.groupBy(col("src"), col("cat")).agg(count(lit(1)).as("o"))
    val ns = cell.groupBy(col("src")).agg(sum(col("o")).as("n_s"))
    val nc = cell.groupBy(col("cat")).agg(sum(col("o")).as("n_c"))
    val tot = cell.agg(sum(col("o")).as("nn"),
      count_distinct(col("cat")).as("n_cats"))
    // the FULL (src × cat) grid, not just observed cells: a category a
    // source never emits still contributes (0 − E)²/E drift mass
    val grid = ns.crossJoin(broadcast(nc))
      .join(cell, Seq("src", "cat"), "left")
      .crossJoin(broadcast(tot))
      .select(col("src"), col("n_s"), col("nn"), col("n_cats"),
        coalesce(col("o"), lit(0L)).as("o"),
        ((col("n_s") * col("n_c")).cast("double") / col("nn")).as("e"))
      .select(col("src"), col("n_s"), col("n_cats"),
        round((col("o").cast("double") - col("e"))
          * (col("o").cast("double") - col("e")) / col("e") * 1e6)
          .cast("long").as("t"))
    grid.groupBy(col("src"))
      .agg(first(col("n_s")).as("n_docs"),
        (first(col("n_cats")) - 1).as("dof"),
        round(sum(col("t")).cast("double") / 1e6, 6).as("chi2"))
      .select(col("src").as("source"), col("n_docs"), col("dof"), col("chi2"))
  }

  /** Majority-vote label aggregation → (item, n_votes, n_labels,
    * majority_label, majority_n, agreement): the label-consolidation
    * step of every human/model-annotated training set — per item, the
    * label with the most votes wins, ties break to the
    * lexicographically smallest label (deterministic under any
    * partitioning), and `agreement` = majority share is the per-item
    * confidence a curation pass filters on (agreement 1.0 = unanimous;
    * ≈ 1/n_labels = annotators split evenly — route to re-annotation).
    * Rows with a NULL item or label carry no vote and are dropped.
    *
    * Scale shape: ONE shuffle to (item, label) counts — the relation a
    * downstream confusion audit reuses — then a per-item window over
    * the counts (bounded by the label-alphabet size, not the vote
    * count) and one slim self-join for the totals. No per-vote state
    * survives the first aggregation. */
  def majorityVote(votes: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val base = votes
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .select(col(itemCol).as("item"), col(labelCol).as("label"))
    val counts = base.groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as("n_label"))
    val totals = counts.groupBy(col("item"))
      .agg(sum(col("n_label")).as("n_votes"),
        count(lit(1)).as("n_labels"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("n_label").desc, col("label"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(totals, Seq("item"))
      .select(col("item"), col("n_votes"), col("n_labels"),
        col("label").as("majority_label"), col("n_label").as("majority_n"),
        round(col("n_label").cast("double") / col("n_votes"), 6)
          .as("agreement"))
  }

  /** Top-k bigram collocations by pointwise mutual information →
    * (w1, w2, c12, pmi_micro): the statistical phrase detector behind
    * tokenizer-vocab merging ("new york" should be one unit) and
    * boilerplate mining — PMI = ln p(w1w2) − ln p(w1) − ln p(w2) ranks
    * pairs that co-occur far above chance, where raw bigram counts
    * (x28h) just rank stopword runs. `minCount` floors c12 because
    * PMI's variance explodes for rare pairs (a 1-occurrence typo pair
    * can top the corpus).
    *
    * Portability: pmi quantized once per bigram TYPE to integer
    * micro-nats with each division its own IEEE op
    * (ln(c12/B) − ln(c1/T) − ln(c2/T)) — the x28j recipe — so ranking
    * ties are engine-identical; (pmi desc, w1, w2) is a total order.
    * Scale shape: two count aggregations (bigram + unigram types), two
    * vocabulary-keyed joins, broadcast scalar totals; the top-k is
    * orderBy+limit — TakeOrderedAndProject, never a global sort. */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, k: Int = 50): DataFrame =
    pmiCollocationsFromCounts(bigramCounts(docs, idCol, textCol),
      tokenCounts(docs, idCol, textCol), minCount, k)

  /** [[pmiCollocations]] over pre-built (ideally persisted)
    * [[bigramCounts]] / [[tokenCounts]] relations — the LM scorers'
    * cached relations serve the collocation scan without another corpus
    * pass. Columns bind by NAME (doc_id, bigram, bf / doc_id, tok, tf). */
  def pmiCollocationsFromCounts(bigramCounts: DataFrame,
      tokenCounts: DataFrame, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, s"need minCount/k >= 1, got $minCount/$k")
    // both type-grain relations materialize ONCE (eager localCheckpoint):
    // bg feeds the bigram total AND the scored chain, uni feeds the
    // token total AND both margin joins — without this the (possibly
    // unpersisted) input count relations re-aggregate once per branch
    val bg = bigramCounts.groupBy(col("bigram")).agg(sum(col("bf")).as("c12"))
      // tokens are whitespace-split, so the joined bigram has exactly
      // one interior space — the split is lossless
      .select(substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"), col("c12"))
      .localCheckpoint(true)
    val uni = tokenCounts.groupBy(col("tok")).agg(sum(col("tf")).as("cw"))
      .localCheckpoint(true)
    val tot = bg.agg(sum(col("c12")).as("bb"))
      .crossJoin(uni.agg(sum(col("cw")).as("tt")))
    bg.filter(col("c12") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("cw").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"),
        round((log(col("c12").cast("double") / col("bb"))
          - log(col("c1").cast("double") / col("tt"))
          - log(col("c2").cast("double") / col("tt"))) * 1e6)
          .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Top-k burstiest terms → (w, df, total_tf, vmr): per-term
    * variance-to-mean ratio (index of dispersion) of the term's count
    * across ALL corpus documents, zeros included — the template/
    * boilerplate detector: a term whose occurrences pile into few docs
    * (navigation chrome, license headers, SEO spam) has VMR ≫ 1 while
    * an evenly-used term sits near 1 (Poisson), and content words the
    * corpus mentions everywhere fall below. `minDf` floors document
    * frequency so one doc repeating a typo 100× doesn't top the list.
    *
    * Exactness: VMR = (N·Σtf² − (Σtf)²) / (N·Σtf) from integer sums;
    * the products accumulate as DECIMAL(38,0) (the x63 discipline —
    * N·Σtf² passes Long.MaxValue once N·tf² mass reaches ~9e18, i.e.
    * well inside a 100 TB corpus; DuckDB mirrors via HUGEINT), with ONE
    * double division at the end. (vmr desc, w) is a total order.
    * Scale shape: one (doc, term) tf aggregation, one per-term rollup,
    * broadcast scalar N; top-k is orderBy+limit. */
  def termBurstiness(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long = 5L, k: Int = 50): DataFrame =
    termBurstinessFromCounts(tokenCounts(docs, idCol, textCol),
      docs.agg(count(lit(1)).as("nd")), minDf, k)

  /** [[termBurstiness]] over a pre-built (ideally persisted)
    * [[tokenCounts]] relation plus a 1-row (nd) total-document-count
    * relation (counted over ALL docs, zero-token ones included — they
    * are real zeros in the dispersion). Columns bind by NAME. */
  def termBurstinessFromCounts(tokenCounts: DataFrame, nDocs: DataFrame,
      minDf: Long, k: Int): DataFrame = {
    require(minDf >= 1 && k >= 1, s"need minDf/k >= 1, got $minDf/$k")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val tf = tokenCounts.select(col("doc_id"), col("tok").as("w"), col("tf"))
    val nRel = nDocs.select(col("nd"))
    tf.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("s1"),
        sum(col("tf") * col("tf")).as("s2"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nRel))
      .select(col("w"), col("df"), col("s1").as("total_tf"),
        round((col("nd").cast(dec) * col("s2")
            - col("s1").cast(dec) * col("s1")).cast("double")
          / (col("nd").cast(dec) * col("s1")).cast("double"), 6).as("vmr"))
      .orderBy(col("vmr").desc, col("w"))
      .limit(k)
  }

  /** Windowed skip-gram co-occurrence PMI → (w1, w2, n_cooc,
    * pmi_micro): unordered token pairs within a ±`window` token
    * distance, scored by PMI against the unigram margins — the
    * word2vec/GloVe count-matrix primitive, and the topical-association
    * detector where [[pmiCollocations]] (adjacent bigrams only) finds
    * PHRASES: "doctor…patient" associate at distance 4 without ever
    * being a bigram. Pairs order lexicographically (w1 < w2; a token
    * co-occurring with itself keeps w1 = w2), so each unordered
    * co-occurrence counts once.
    *
    * Scale shape: pair generation is ROW-LOCAL array algebra (nested
    * transform over each token array — no positional self-join, no
    * shuffle until the pair count); the aggregation keys are pair
    * types, margins ride the same token relation; top-k is
    * orderBy+limit. PMI quantizes per pair TYPE to integer micro-nats
    * (each division its own IEEE op — the x79 recipe with the pair
    * total as the joint mass). */
  def skipgramPmi(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, minCount: Long = 5L, k: Int = 50): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"), graft.ops.DedupOps.tokens(col(textCol)).as("tk"))
    skipgramPmiCore(base,
      base.select(explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw")),
      window, minCount, k)
  }

  /** [[skipgramPmi]] with the unigram margins derived from a pre-built
    * (ideally persisted) [[tokenCounts]] relation — the x70/x79
    * FromCounts discipline: the margin side is a vocabulary-grain
    * reduce of the shared counts cache instead of a second full corpus
    * tokenization per evaluation (only the pair enumeration still needs
    * the raw token ARRAYS — positions don't survive counting). The
    * margins are identical by construction: tokenCounts groups the same
    * exploded token stream by (doc, tok) first, and Σ_doc tf = cw. */
  def skipgramPmiFromCounts(docs: DataFrame, idCol: String,
      textCol: String, tokenCounts: DataFrame, window: Int = 4,
      minCount: Long = 5L, k: Int = 50): DataFrame =
    skipgramPmiCore(
      docs.select(col(idCol).as("doc_id"),
        graft.ops.DedupOps.tokens(col(textCol)).as("tk")),
      tokenCounts.groupBy(col("tok")).agg(sum(col("tf")).as("cw"))
        .select(col("tok").as("w"), col("cw")),
      window, minCount, k)

  private def skipgramPmiCore(base: DataFrame, uniLazy: DataFrame,
      window: Int, minCount: Long, k: Int): DataFrame = {
    require(window >= 1 && minCount >= 1 && k >= 1,
      s"bad skip-gram params: window=$window minCount=$minCount k=$k")
    // per doc: all (i, j) with i < j <= i + window, emitted as the
    // lexicographically ordered "w1 w2" pair — row-local
    val pairExpr = flatten(transform(
      sequence(lit(1), greatest(size(col("tk")) - 1, lit(0))),
      i => transform(
        sequence(i + 1, least(i + lit(window), size(col("tk")))),
        j => {
          val a = element_at(col("tk"), i.cast("int"))
          val b = element_at(col("tk"), j.cast("int"))
          concat(least(a, b), lit(" "), greatest(a, b))
        })))
    // the vocabulary margin relation materializes ONCE (eager
    // localCheckpoint): uni feeds the token total AND both margin
    // joins — three margin evaluations otherwise. The PAIR counts
    // stay lazy deliberately: their two consumers share one identical
    // shuffle subtree that runtime exchange reuse already dedupes, and
    // an A/B showed eager materialization of the (much larger)
    // pair-type relation costs more than the branch it saves.
    val pc = base.filter(size(col("tk")) >= 2)
      .select(explode(pairExpr).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_cooc"))
    val uni = uniLazy.localCheckpoint(true)
    val tot = pc.agg(sum(col("n_cooc")).as("pp"))
      .crossJoin(uni.agg(sum(col("cw")).as("tt")))
    pc.filter(col("n_cooc") >= minCount)
      .select(substring_index(col("pair"), " ", 1).as("w1"),
        substring_index(col("pair"), " ", -1).as("w2"), col("n_cooc"))
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_cooc"),
        round((log(col("n_cooc").cast("double") / col("pp"))
          - log(col("c1").cast("double") / col("tt"))
          - log(col("c2").cast("double") / col("tt"))) * 1e6)
          .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-stratum Kolmogorov–Smirnov drift → (stratum, n_s, d_stat):
    * the EXACT sup-norm distance between each stratum's empirical CDF
    * of a numeric column and the corpus-wide CDF — the binless
    * complement of x63's KL (token space, binned by vocabulary) and
    * x77's χ² (categorical): "does this source's document-length /
    * quality-score / token-count DISTRIBUTION match the corpus?",
    * sensitive to shape shifts a mean/variance screen misses.
    *
    * Exactness: the sup over all reals is attained at the corpus's
    * distinct values, so the statistic is max over the value grid of
    * |cum_s·N − cum_g·n_s| — pure integer cross-multiplication — with
    * ONE double division at the end: engine-identical. Scale shape:
    * two count aggregations, the (stratum × distinct-value) grid built
    * from a BROADCAST value relation (numeric columns of a curation
    * pipeline — lengths, scores, counts — have bounded distinct
    * grids), two cumulative windows partitioned by stratum/constant
    * over that grid, one max aggregation. The corpus itself is
    * scanned once. */
  def ksDrift(docs: DataFrame, stratCol: String, valueCol: String): DataFrame = {
    val base = docs
      .filter(col(stratCol).isNotNull && col(valueCol).isNotNull)
      .select(col(stratCol).as("stratum"), col(valueCol).as("v"))
    // the (stratum, value) count relation materializes ONCE (eager
    // localCheckpoint, the x81 discipline): the grid, the global
    // margins, and the stratum sizes all branch off it, and without
    // the checkpoint each branch re-scans the corpus
    val cs = base.groupBy(col("stratum"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val cg = cs.groupBy(col("v")).agg(sum(col("c")).as("cgv"))
    val ns = cs.groupBy(col("stratum")).agg(sum(col("c")).as("n_s"))
    val nn = cg.agg(sum(col("cgv")).as("nn"))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // cross-multiplied differences reach N² — DECIMAL(38,0) (the x63
    // discipline; HUGEINT on the oracle side), Long wraps past ~3e9 docs
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // the full (stratum × value) grid: a value a stratum never takes
    // still hosts a CDF jump of the OTHER distribution, where the sup
    // can land
    ns.crossJoin(broadcast(cg))
      .join(cs, Seq("stratum", "v"), "left")
      .select(col("stratum"), col("v"), col("n_s"), col("cgv"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cum_s", sum(col("c")).over(wS))
      .withColumn("cum_g", sum(col("cgv")).over(wG))
      .crossJoin(broadcast(nn))
      .groupBy(col("stratum"))
      .agg(first(col("n_s")).as("n_s"),
        max(abs(col("cum_s").cast(dec) * col("nn")
          - col("cum_g").cast(dec) * col("n_s"))).as("dnum"),
        first(col("nn")).as("nn2"))
      .select(col("stratum"), col("n_s"),
        round(col("dnum").cast("double")
          / (col("n_s").cast(dec) * col("nn2")).cast("double"), 6)
          .as("d_stat"))
  }

  /** Rolling ingestion-anomaly z-scores → (series, bucket, n, n_prev,
    * z): per series (an event type, a source, a pipeline stage), event
    * counts bucket by `bucketMs` epochs and each bucket scores against
    * the TRAILING `trail` observed buckets — z = (c − mean)/std — the
    * ingestion-monitoring primitive that flags a scraper gone hot, a
    * source gone dark, or a duplicate flood before it poisons a
    * training snapshot. The frame is the trailing observed buckets
    * (ROWS, not RANGE — silent calendar gaps collapse; a dead-quiet
    * series scores its restart against its live history). Buckets with
    * fewer than `minPrev` predecessors or zero variance emit a NULL z
    * (not enough history to call anything anomalous).
    *
    * Exactness: counts are integers, the frame sums (Σc, Σc²) are
    * exact window aggregates, and z is computed in ONE arithmetic
    * sequence from them — (c·n − Σc)/√(n·Σc² − (Σc)²) · √n — where the
    * two sqrts are IEEE-correctly-rounded, so both engines agree to
    * the 6-decimal round. Scale shape: one count aggregation, one
    * per-series ordered window — never a global sort. */
  def rollingAnomaly(events: DataFrame, seriesCol: String, tsCol: String,
      bucketMs: Long = 3600000L, trail: Int = 24,
      minPrev: Int = 8): DataFrame = {
    require(bucketMs > 0 && trail >= 2 && minPrev >= 2 && minPrev <= trail,
      s"bad rolling-anomaly params: bucketMs=$bucketMs trail=$trail minPrev=$minPrev")
    val cnt = events
      .filter(col(seriesCol).isNotNull && col(tsCol).isNotNull)
      .select(col(seriesCol).as("series"),
        expr(s"(unix_millis(CAST(${tsCol} AS TIMESTAMP)) div ${bucketMs}L)")
          .as("bucket"))
      .groupBy(col("series"), col("bucket")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("bucket"))
      .rowsBetween(-trail, -1)
    cnt
      .withColumn("np", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .select(col("series"), col("bucket"), col("n"),
        coalesce(col("np"), lit(0L)).as("n_prev"),
        when(col("np") >= minPrev &&
            col("np") * col("s2") - col("s1") * col("s1") > 0,
          round((col("n") * col("np") - col("s1")).cast("double")
            / sqrt((col("np") * col("s2") - col("s1") * col("s1"))
              .cast("double"))
            * sqrt(col("np").cast("double")), 6))
          .as("z"))
  }

  /** Event-type transition matrix → (from_type, to_type, n, p_micro):
    * per-user consecutive event-type pairs counted corpus-wide, with
    * the row-conditional transition probability in exact integer
    * micro-units (n·10⁶ div row total) — the first-order Markov
    * estimate behind session modeling, bot detection (impossible
    * transitions), and funnel design. Ordering within a user is
    * (event time, event id) — fully deterministic under any
    * partitioning. NULL users/types/timestamps carry no transition.
    *
    * Scale shape: one per-user ordered window for the lag, one
    * (from, to) count aggregation, one slim row-total join — no
    * per-event state past the window. */
  def transitionMatrix(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("t"), col("eid"))
    // the (from, to) count matrix materializes ONCE (eager
    // localCheckpoint, the x81 discipline): it is type-alphabet-small,
    // and both the emit branch and the row-total branch reference it —
    // unpersisted, each branch re-runs the per-user lag window over
    // the full event relation
    val pairs = events
      .filter(col(userCol).isNotNull && col(typeCol).isNotNull &&
        col(tsCol).isNotNull)
      .select(col(userCol).as("u"), col(typeCol).as("ty"),
        col(tsCol).as("t"), col(idCol).as("eid"))
      .withColumn("prev", lag(col("ty"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"), col("ty").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("row_n"))
    pairs.join(tot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000L) div row_n").as("p_micro"))
  }

  /** SimHash Hamming-neighbor pairs → (d1, d2, hamming), d1 < d2: every
    * document pair whose 32-bit SimHash fingerprints differ in at most
    * `maxHamming` bits — the Manku et al. (WWW'07) web-scale near-dup
    * detector. Unlike the probabilistic MinHash/SRP candidate paths,
    * this banding is EXACT: the signature splits into 4 bytes, and by
    * pigeonhole any pair within Hamming distance 3 agrees on at least
    * one whole byte — so the byte-value equi-join has full recall and
    * the popcount verify makes precision 1. Requires maxHamming ≤ 3
    * (≥ 4 would need a wider signature or more bands for the
    * guarantee).
    *
    * Scale shape: 4 narrow (doc, band-key) rows per document, one
    * equi-join on the 8-byte band key, verify on 16-byte id pairs —
    * never an all-pairs scan; signature bits are integer-exact
    * (portable sha token hash + signed tf sums). */
  def simhashHammingPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashHammingPairsFromSignatures(
      graft.ops.DedupOps.simhashSignatures(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))),
      maxHamming)

  /** [[simhashHammingPairs]] over a pre-computed (ideally persisted)
    * `(doc_id, simhash)` signature relation — it is referenced on three
    * plan branches (banding + both verify attaches). */
  def simhashHammingPairsFromSignatures(signatures: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"the 4x8-bit banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    val sig = signatures.select(col("doc_id"), col("simhash"))
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L))): _*)))
      .select(col("doc_id"), xxhash64(col("pos"), col("col")).as("bandkey"))
    graft.ops.DedupOps.coocPairs(bands, "bandkey")
      .join(sig.select(col("doc_id").as("d1"), col("simhash").as("h1")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("simhash").as("h2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Deterministic per-epoch shard layout → (doc_id, shard, pos): the
    * dataloader contract of a multi-epoch training run — every epoch is
    * a DIFFERENT pseudorandom permutation of the corpus (epoch salt in
    * the hash), sharded for `nShards` parallel readers, with a dense
    * 1-based position inside each shard — all content-addressed
    * (sha-derived, [[hashBucket]]'s coordinate), so any engine, any
    * partitioning, and any re-run derives the identical order, and a
    * resumed job can seek to (shard, pos) exactly.
    *
    * Scale shape: shard assignment is a pure row function; the only
    * shuffle is the per-shard window for `pos` — partitioned by shard,
    * never a global sort. A grown corpus perturbs only the positions
    * after the insertion points, not every shard's membership. */
  def epochShuffle(docs: DataFrame, idCol: String, nShards: Int,
      epoch: Int): DataFrame = {
    require(nShards >= 1 && epoch >= 0,
      s"need nShards >= 1 and epoch >= 0, got $nShards/$epoch")
    val h = hash16(concat(col("doc_id").cast("string"), lit(s"#e$epoch")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs.select(col(idCol).as("doc_id"))
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(nShards)))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Referential-integrity audit between two keyed relations →
    * (status ∈ both/left_only/right_only, n_keys, n_left_rows,
    * n_right_rows): the join-coverage report a pipeline runs before
    * trusting an enrichment join — "every document has exactly one
    * embedding row, nothing dangles" — made a first-class relation
    * instead of a silent inner-join drop ([[crossSourceDupMatrix]]'s
    * lesson). Counts are by KEY (n_keys) and by ROW (n_*_rows), so
    * duplicate keys on either side are visible too. NULL keys are
    * reported as their own side's orphans (they can never join).
    *
    * Scale shape: each side reduces to (key, count) — map-side
    * combined — before the single full-outer join on the key; the
    * 3-row summary is one tiny aggregation after. */
  def integrityAudit(left: DataFrame, leftKey: String, right: DataFrame,
      rightKey: String): DataFrame = {
    val l = left.groupBy(col(leftKey).as("k")).agg(count(lit(1)).as("nl"))
    val r = right.groupBy(col(rightKey).as("k")).agg(count(lit(1)).as("nr"))
    l.join(r, Seq("k"), "full_outer")
      .select(
        when(col("nl").isNotNull && col("nr").isNotNull, "both")
          .when(col("nl").isNotNull, "left_only")
          .otherwise("right_only").as("status"),
        col("nl"), col("nr"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_keys"),
        coalesce(sum(col("nl")), lit(0L)).as("n_left_rows"),
        coalesce(sum(col("nr")), lit(0L)).as("n_right_rows"))
  }

  /** Per-stratum Zipf slope → (stratum, n_terms, slope): the OLS slope
    * of ln(frequency) on ln(rank) over the stratum's term-frequency
    * distribution — natural text tracks Zipf's law with slope ≈ −1;
    * machine-generated/templated sources flatten (repetitive head,
    * missing tail) and key-value/log spam steepens, so the per-source
    * slope is a corpus-provenance screen next to x63's KL and x77's χ²
    * (which compare distributions to each other; this compares each to
    * the power law).
    *
    * Exactness: ln(rank) and ln(count) quantize once per term to
    * integer MILLI-nats (micro would overflow the Σxy products), the
    * OLS sums accumulate as DECIMAL(38,0) (x63 discipline), and the
    * slope is ONE double division of exact integers, rounded to 6 —
    * engine-identical. Rank is (count desc, term) — a per-stratum
    * window over the vocabulary relation, never the corpus. */
  def zipfSlope(docs: DataFrame, stratCol: String, textCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val cnt = docs.filter(col(stratCol).isNotNull)
      .select(col(stratCol).as("stratum"),
        explode(graft.ops.DedupOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("stratum"), col("tok")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("c").desc, col("tok"))
    cnt.withColumn("rk", row_number().over(w))
      .select(col("stratum"),
        round(log(col("rk").cast("double")) * 1e3).cast("long").as("x"),
        round(log(col("c").cast("double")) * 1e3).cast("long").as("y"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum((col("x").cast(dec) * col("x"))).as("sxx"),
        sum((col("x").cast(dec) * col("y"))).as("sxy"))
      // a 1-term stratum has zero x-variance (rank 1 only): slope is
      // undefined there — NULL, not a division error
      .select(col("stratum"), col("n_terms"),
        when(col("n_terms") >= 2,
          round((col("n_terms").cast(dec) * col("sxy") - col("sx") * col("sy"))
              .cast("double")
            / (col("n_terms").cast(dec) * col("sxx") - col("sx") * col("sx"))
              .cast("double"), 6))
          .as("slope"))
  }

  /** Maximal-marginal-relevance diverse top-k →
    * (rank, c_id, rel_micro, maxsim_micro, score_micro): greedy MMR
    * (Carbonell & Goldstein 1998) selection of `k` corpus rows for a
    * 1-row query embedding — each round picks
    * argmax λ·relevance − (1−λ)·max-sim-to-already-selected, so the
    * result is relevant AND mutually diverse where plain top-k returns
    * k near-copies of the best hit. The eval-set / few-shot-pool /
    * exemplar-selection primitive of a curation pipeline.
    *
    * The greedy argmax is inherently sequential, so the SCALE split is:
    * the corpus-sized work is ONE scan scoring relevance and ONE
    * TakeOrderedAndProject into a `poolSize`-bounded candidate pool
    * (MMR beyond the relevance frontier adds nothing — a low-relevance
    * row never wins any round); the k rounds then run on the bounded
    * pool with 1-row broadcast joins and eager localCheckpoints (the
    * BPE-argmax discipline), never touching the corpus again.
    *
    * Portability: relevance and pair similarities quantize once to
    * integer micro (round(cos·10⁶), the x27e recipe); scores are pure
    * Long arithmetic λpct·rel − (100−λpct)·maxsim, so every argmax is
    * engine-identical with (score desc, c_id) total order. Zero-norm
    * rows drop (NULL rel in both engines). */
  def mmrDiverseTopK(corpus: DataFrame, query: DataFrame, idCol: String,
      embCol: String, k: Int, lambdaPct: Int = 70,
      poolSize: Int = 50): DataFrame = {
    require(k >= 1 && k <= poolSize, s"need 1 <= k <= poolSize, got $k/$poolSize")
    require(lambdaPct >= 1 && lambdaPct <= 99,
      s"lambdaPct must be in [1, 99], got $lambdaPct")
    import graft.functions.VectorFunctions.cosine_sim
    val q = query.select(col(embCol).as("q_emb")).limit(1)
    val simMicro = (a: Column, b: Column) =>
      round(cosine_sim(a, b) * 1e6).cast("long")
    val lam = lit(lambdaPct.toLong)
    val lam1 = lit((100 - lambdaPct).toLong)
    var pool = corpus.select(col(idCol).as("c_id"), col(embCol).as("emb"))
      .crossJoin(broadcast(q))
      .withColumn("rel", simMicro(col("emb"), col("q_emb")))
      .filter(col("rel").isNotNull)
      .select(col("c_id"), col("emb"), col("rel"))
      .orderBy(col("rel").desc, col("c_id")).limit(poolSize)
      .withColumn("ms", lit(0L))
      .localCheckpoint(true)
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to k) {
      val sel = pool
        .withColumn("score", lam * col("rel") - lam1 * col("ms"))
        .orderBy(col("score").desc, col("c_id")).limit(1)
        .localCheckpoint(true)
      picks += sel.select(lit(r).as("rank"), col("c_id"),
        col("rel").as("rel_micro"), col("ms").as("maxsim_micro"),
        col("score").as("score_micro"))
      if (r < k) {
        // rel is non-NULL for every pool row, so both norms are > 0 and
        // the pairwise sim below can never be NULL
        pool = pool
          .crossJoin(broadcast(
            sel.select(col("c_id").as("s_id"), col("emb").as("s_emb"))))
          .filter(col("c_id") =!= col("s_id"))
          .select(col("c_id"), col("emb"), col("rel"),
            greatest(col("ms"), simMicro(col("emb"), col("s_emb"))).as("ms"))
          .localCheckpoint(true)
      }
    }
    picks.reduce(_ unionAll _)
  }

  /** Exact-count stratified selection by largest-remainder allocation →
    * (doc_id, stratum, rk): EXACTLY `budget` rows total (when the corpus
    * has them), split across strata proportionally to their counts —
    * the "sample 10 M docs preserving the source mix" primitive where
    * fraction-based sampling ([[stratifiedSample]]) only hits the
    * budget in expectation. Hamilton's method: every stratum gets
    * ⌊budget·c_s/C⌋, then the leftover seats go to the largest
    * remainders (ties → stratum ascending); within a stratum the kept
    * rows are the content-addressed hash order ([[hashBucket]]'s
    * 16-bit sha256 coordinate, salt `#quota`), so the selection is
    * deterministic across runs, partitioning, and engines, and a
    * grown corpus reshuffles selections minimally. NULL strata are
    * excluded — coalesce them to a bucket first if they must compete.
    *
    * Scale shape: one stratum-count aggregation (map-side combined),
    * the seat allocation entirely on the strata relation (tiny — a
    * window over sources/languages, broadcast back), and ONE per-stratum
    * window over the corpus for the in-stratum rank. Pure integer
    * arithmetic throughout — both engines replay seats exactly. */
  def stratifiedQuota(docs: DataFrame, idCol: String, stratCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val base = docs.filter(col(stratCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(stratCol).as("stratum"))
    // the corpus-wide count aggregation materializes ONCE (eager
    // localCheckpoint): seats, the leftover-seat scalar, and the
    // remainder ranking all branch off this categorical-small relation,
    // and without the checkpoint each branch re-scans the corpus
    val cs = base.groupBy(col("stratum")).agg(count(lit(1)).as("c_s"))
      .localCheckpoint(true)
    val tot = cs.agg(sum(col("c_s")).as("cc"))
    val seats = cs.crossJoin(broadcast(tot))
      .select(col("stratum"), col("c_s"),
        expr(s"(${budget}L * c_s) div cc").as("base_s"),
        expr(s"(${budget}L * c_s) % cc").as("rem_s"))
    val extra = seats.agg((lit(budget) - sum(col("base_s"))).as("extra"))
    // the strata relation is categorical-small (sources, languages):
    // an unpartitioned window here ranks tens of rows, not the corpus
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem_s").desc, col("stratum"))
    val alloc = seats.withColumn("rr", row_number().over(wRem))
      .crossJoin(broadcast(extra))
      .select(col("stratum"),
        (col("base_s") + when(col("rr") <= col("extra"), 1L).otherwise(0L))
          .as("alloc"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"))
      .orderBy(col("h"), col("doc_id"))
    base
      .withColumn("h", hash16(concat(col("doc_id").cast("string"), lit("#quota"))))
      .withColumn("rk", row_number().over(wIn))
      .join(broadcast(alloc), Seq("stratum"))
      .filter(col("rk") <= col("alloc"))
      .select(col("doc_id"), col("stratum"), col("rk"))
  }

  /** Prefix-filtered EXACT Jaccard self-join (the AllPairs/PPJoin
    * candidate cut) → (d1, d2, n_inter, n_union, jaccard), d1 < d2,
    * J ≥ tNum/tDen: the same pair relation [[nearDupPairsFromShingles]]
    * verifies by joining EVERY co-occurring shingle, produced from a
    * candidate set bounded by each document's RAREST shingles. Under
    * any one global total order of the shingle universe, two sets of
    * sizes m₁, m₂ with |A∩B| ≥ ⌈τ·max(m₁,m₂)⌉ (implied by J ≥ τ) must
    * collide inside their first m − ⌈τ·m⌉ + 1 elements — so the
    * candidate join runs over those prefixes only, ordered rarest
    * first (ascending document frequency) to minimize fan-out; the
    * full postings join then verifies EXACT Jaccard per candidate, so
    * the prefix order affects cost, never results. A length filter
    * (tDen·min ≥ tNum·max, implied by J ≥ τ) prunes at the candidate
    * join itself.
    *
    * Exactness: the threshold is the rational tNum/tDen and every
    * comparison is integer cross-multiplication — prefix length
    * m − ⌈tNum·m/tDen⌉ + 1 in integer ceil-division, the final test
    * (tDen+tNum)·inter ≥ tNum·(m₁+m₂) — with one 6-decimal rounded
    * double division for the reported jaccard.
    *
    * Scale shape: the shingle relation materializes once (eager
    * localCheckpoint — document frequencies, per-doc sizes, the
    * prefix build, and both verification branches all read it); one
    * per-doc window ranks shingles by global rarity; the candidate
    * self-join runs over prefixes (on a real corpus a small fraction
    * of postings — rare-shingle collisions only); the verification
    * join is candidates × contained-doc postings, bounded by true
    * near-dup density, never the corpus². */
  def jaccardPrefixPairsFromShingles(shingles: DataFrame, tNum: Long,
      tDen: Long): DataFrame = {
    require(tNum >= 1 && tNum <= tDen,
      s"threshold must be a rational in (0, 1]: $tNum/$tDen")
    val sh = shingles.select(col("doc_id"), col("shh")).localCheckpoint(true)
    val dfreq = sh.groupBy(col("shh")).agg(count(lit(1)).as("dfq"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("m"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("dfq"), col("shh"))
    // pref/sizes stay LAZY deliberately (r17): pref's two consumers are
    // the two sides of the candidate self-join — one identical shuffle
    // subtree that runtime exchange reuse dedupes — and A/B runs showed
    // eager checkpoints here neutral-to-negative (materialization cost
    // with no duplicate work left to remove; the same lesson as x91's
    // pair counts). Only `sh`, read by five genuinely different
    // branches, earns its materialization.
    val pref = sh.join(dfreq, Seq("shh"))
      .withColumn("pos", row_number().over(wDoc))
      .join(sizes, Seq("doc_id"))
      .filter(col("pos") <=
        col("m") - expr(s"(${tNum}L * m + ${tDen - 1}L) div ${tDen}L") + 1)
      .select(col("doc_id"), col("shh"), col("m"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.shh") === col("b.shh") && col("a.doc_id") < col("b.doc_id") &&
          lit(tDen) * least(col("a.m"), col("b.m")) >=
            lit(tNum) * greatest(col("a.m"), col("b.m")))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("d1"), col("shh")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("shh")), Seq("d2", "shh"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("m").as("m1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("m").as("m2")), Seq("d2"))
      .filter(lit(tDen + tNum) * col("n_inter") >=
        lit(tNum) * (col("m1") + col("m2")))
      .select(col("d1"), col("d2"), col("n_inter"),
        (col("m1") + col("m2") - col("n_inter")).as("n_union"),
        round(col("n_inter").cast("double")
          / (col("m1") + col("m2") - col("n_inter")), 6).as("jaccard"))
  }

  /** [[jaccardPrefixPairsFromShingles]] over raw documents. */
  def jaccardPrefixPairs(docs: DataFrame, idCol: String, textCol: String,
      tNum: Long, tDen: Long): DataFrame =
    jaccardPrefixPairsFromShingles(shingles(docs, idCol, textCol), tNum, tDen)

  /** Blocked fuzzy dictionary resolution → (variant, canonical, dist,
    * n_variant, n_canonical): the entity-resolution primitive — the
    * relation's DISTINCT name strings matched against each other at
    * Levenshtein ≤ maxDist within last-token blocks, each surviving
    * pair oriented by row support (the better-attested spelling is the
    * canonical; ties break to the lexicographically smaller name, so
    * the orientation is deterministic). Resolving the DICTIONARY, not
    * the rows, is what makes this scale: a corpus with millions of
    * rows over thousands of spellings pays one count aggregation and
    * then a self-join quadratic only in per-block DISTINCT names —
    * never in rows. Blocking is exact-match on the last
    * whitespace-token (the head noun of a name phrase): pairs in
    * different blocks are out of scope by definition, the standard
    * blocking contract.
    *
    * Exactness: Levenshtein is the classic unit-cost edit distance
    * (both engines implement the same DP), support counts are
    * integers, and the orientation comparison is pure integer/string
    * ordering. */
  def fuzzyResolvePairs(rel: DataFrame, nameCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // the dictionary materializes once (support counts, blocks, and
    // both self-join sides read it); it is distinct-name-sized, so the
    // checkpoint is tiny
    val dict = rel.filter(col(nameCol).isNotNull)
      .groupBy(col(nameCol).as("name")).agg(count(lit(1)).as("support"))
      .localCheckpoint(true)
    val b = dict.select(col("name"), col("support"),
      substring_index(col("name"), " ", -1).as("blk"))
    val aWins = col("a.support") > col("b.support") ||
      (col("a.support") === col("b.support") && col("a.name") < col("b.name"))
    b.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
      .filter(levenshtein(col("a.name"), col("b.name")) <= maxDist)
      .select(
        when(aWins, col("b.name")).otherwise(col("a.name")).as("variant"),
        when(aWins, col("a.name")).otherwise(col("b.name")).as("canonical"),
        levenshtein(col("a.name"), col("b.name")).as("dist"),
        when(aWins, col("b.support")).otherwise(col("a.support")).as("n_variant"),
        when(aWins, col("a.support")).otherwise(col("b.support")).as("n_canonical"))
  }

  /** SCD2 state intervals (gaps-and-islands) → (key, state,
    * valid_from, valid_to, n_events): per key, consecutive runs of the
    * SAME state value collapse into one validity interval
    * [valid_from, valid_to), valid_to NULL on the current (open)
    * interval — the slowly-changing-dimension type-2 build that turns
    * an append-only event log into a "state history + current state"
    * dimension (account tier changes, document license flips, pipeline
    * stage ownership). A run closes only when the state CHANGES:
    * repeated same-state events extend the open interval and are
    * counted into n_events, not split.
    *
    * Ordering within a key is (event time millis, tiebreak column) —
    * fully deterministic under any partitioning; rows with a NULL key,
    * state, or timestamp carry no state evidence and are excluded.
    * Scale shape: one keyed ordered window for the change flag + run
    * id (ROWS frame — the x54 tied-order discipline), one (key, run)
    * aggregation, one slim per-key window over the interval relation
    * (intervals-per-key rows, not events) for valid_to. Never a global
    * sort. */
  def stateIntervals(events: DataFrame, keyCol: String, stateCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val base = events
      .filter(col(keyCol).isNotNull && col(stateCol).isNotNull &&
        col(tsCol).isNotNull)
      .select(col(keyCol).as("k"), col(stateCol).as("state"),
        expr(s"unix_millis(CAST($tsCol AS TIMESTAMP))").as("t"),
        col(tieCol).as("tie"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("t"), col("tie"))
    val wRows = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val iv = base
      .withColumn("chg",
        when(lag(col("state"), 1).over(w).isNull ||
          lag(col("state"), 1).over(w) =!= col("state"), 1L).otherwise(0L))
      .withColumn("run", sum(col("chg")).over(wRows))
      .groupBy(col("k"), col("run"))
      .agg(min(col("state")).as("state"), min(col("t")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wIv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("run"))
    iv.withColumn("valid_to", lead(col("valid_from"), 1).over(wIv))
      .select(col("k"), col("state"), col("valid_from"), col("valid_to"),
        col("n_events"))
  }

  /** Per-source n-gram saturation → (source, n, n_total, n_distinct,
    * ttr_micro) for n = 1..maxN: type-token ratios over token n-grams
    * WITH multiplicity — the diversity/memorization audit ("is this
    * source template spam?"). A boilerplate mill shows ttr collapsing
    * as n grows (the same 3-grams repeat); organic text holds it up.
    * ttr_micro = n_distinct·10⁶ div n_total — exact integer division.
    * Scale shape: row-local n-gram generation, one (source, n, gram)
    * count aggregation (map-side partial — duplicate grams collapse
    * before the shuffle), one (source, n) rollup of counts. */
  def ngramSaturation(docs: DataFrame, srcCol: String, textCol: String,
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1, 8], got $maxN")
    val base = docs.filter(col(srcCol).isNotNull && col(textCol).isNotNull)
      .select(col(srcCol).as("source"), DedupOps.tokens(col(textCol)).as("tk"))
    val grams = (1 to maxN).map { n =>
      base.filter(size(col("tk")) >= n)
        .select(col("source"), lit(n).as("n"),
          explode(transform(sequence(lit(1), size(col("tk")) - (n - 1)),
            i => array_join(slice(col("tk"), i, lit(n)), " "))).as("gram"))
    }.reduce(_ unionAll _)
    grams
      .groupBy(col("source"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("c")).as("n_total"), count(lit(1)).as("n_distinct"))
      .select(col("source"), col("n"), col("n_total"), col("n_distinct"),
        expr("(n_distinct * 1000000) div n_total").as("ttr_micro"))
  }

  /** Sliding-window passage chunking → (doc_id, chunk_id, start_pos,
    * n_tokens, chunk): each document's token stream cut into windows of
    * `size` tokens advancing by `size − overlap` — the retrieval/RAG
    * passage layout (consecutive full chunks share exactly `overlap`
    * tokens, so a fact straddling a boundary appears whole in at least
    * one chunk) and the long-document training slicer X32's cross-doc
    * bin packing does not cover (packing concatenates MANY docs into
    * budget bins; chunking windows WITHIN one doc with overlap).
    *
    * Contract: chunk starts are 1, 1+stride, … for every start ≤ the
    * token count, so every token lands in ≥ 1 chunk (full coverage);
    * the final chunk may be shorter than `size`. chunk_id is dense from
    * 1 in start order — (doc_id, chunk_id) is a stable passage address
    * under any partitioning (content-addressed inputs, arithmetic ids).
    * NULL/empty texts emit no chunks.
    *
    * Scale shape: entirely ROW-LOCAL — one `sequence` + `explode` per
    * doc, per-chunk columns by `slice`; no shuffle, no window, scan
    * speed at any corpus size. Chunk fan-out is len/stride per doc,
    * bounded by the doc's own length. */
  def passageChunks(docs: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(size >= 1, s"size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap (size $size)")
    val stride = size - overlap
    docs.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        DedupOps.tokens(col(textCol)).as("tk"))
      .filter(size_(col("tk")) >= 1)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size_(col("tk")), lit(stride)))
          .as("start_pos"))
      .select(col("doc_id"),
        expr(s"((start_pos - 1) div $stride) + 1").cast("int").as("chunk_id"),
        col("start_pos"),
        least(lit(size), size_(col("tk")) - col("start_pos") + 1)
          .cast("int").as("n_tokens"),
        array_join(slice(col("tk"), col("start_pos"), lit(size)), " ")
          .as("chunk"))
  }

  // `size` is shadowed by chunking parameters above; alias the column fn
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** Reciprocal-rank fusion over candidate rankings → (q_id, c_id,
    * rrf_micro, rank): the standard score-free combiner for multi-system
    * retrieval (lexical + dense, exact + quantized) — each ranking
    * contributes 1/(kConst + rank) for the candidates it ranked, summed
    * per (query, candidate), and the fused top `topK` win. Score-free
    * matters: BM25 weights and cosine sims live on incomparable scales,
    * but ranks always fuse.
    *
    * Each input ranking must carry (q_id, c_id, rank); candidates
    * missing from one ranking simply contribute fewer terms (the
    * candidate-pool RRF convention). Contributions are quantized to
    * exact integer micros — 10⁶ div (kConst + rank) — so the fused sum
    * and its ordering are engine-identical; ties break by c_id.
    *
    * Scale shape: rankings are already per-query-bounded relations
    * (top-N pools); fusion is one union + one (q, c) hash aggregation +
    * one per-query window over ≤ Σ pool sizes rows. Nothing touches the
    * corpus again. */
  def reciprocalRankFusion(rankings: Seq[DataFrame], kConst: Long = 60L,
      topK: Int = 5): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kConst >= 1 && topK >= 1,
      s"need kConst/topK >= 1, got $kConst/$topK")
    val contribs = rankings.map {
      _.select(col("q_id"), col("c_id"),
        expr(s"1000000L div (${kConst}L + rank)").as("contrib"))
    }.reduce(_ unionAll _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("c_id"))
    contribs
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("contrib")).as("rrf_micro"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
  }

  /** Train→eval near-dup leakage audit → (doc_id, split, n_train_dups,
    * min_train_dup): every VAL/TEST document with at least one near-dup
    * in TRAIN — the eval-hygiene scan run before any benchmark number
    * ships (a test doc near-duplicating a training doc measures
    * memorization, not generalization; the standard remedy is dropping
    * exactly the rows this relation lists). The complement of X33's
    * probe-containment decontam: X33 catches eval text PASTED INSIDE
    * training docs, this catches whole-document near-duplication across
    * an already-assigned split.
    *
    * `pairs` is any symmetric near-dup pair relation (d1, d2) — ride
    * the SHARED cached x26 pairs so "a duplicate" means the same thing
    * here as in the dedup/cluster/matrix queries. `splits` carries
    * (id, split); `trainSplit` names the training partition. Pairs are
    * exploded into both orientations BEFORE the split filter, so
    * leakage is caught regardless of which side got the smaller id.
    *
    * Scale shape: two id equi-joins against the (bounded) pair
    * relation + one per-eval-doc aggregation — never re-reads text.
    * Split assignment is a pure row function (content-addressed
    * bucket), so the splits side is a projection, not a stored table. */
  def splitLeakage(pairs: DataFrame, splits: DataFrame, idCol: String,
      splitCol: String, trainSplit: String = "train"): DataFrame = {
    val s = splits.select(col(idCol).as("__id"), col(splitCol).as("__split"))
    val both = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .unionAll(pairs.select(col("d2").as("src"), col("d1").as("dst")))
    both
      .join(s.select(col("__id").as("src"), col("__split").as("split")),
        Seq("src"))
      .join(s.select(col("__id").as("dst"),
        col("__split").as("dst_split")), Seq("dst"))
      .filter(col("split") =!= lit(trainSplit) &&
        col("dst_split") === lit(trainSplit))
      .groupBy(col("src").as("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_train_dups"), min(col("dst")).as("min_train_dup"))
  }

  /** Fleiss' kappa (variable-rater generalization) → one summary row
    * (n_items, n_ratings, n_labels, po_micro, pe_micro, kappa_micro):
    * chance-corrected inter-annotator agreement over a (item, rater,
    * label) ratings relation — the go/no-go statistic on an annotation
    * batch before its labels train anything (κ ≈ 0: the raters are
    * noise; the X74 majority vote would consolidate that noise with
    * full confidence). Items need ≥ 2 raters to carry agreement
    * evidence; duplicate (item, rater) rows must be resolved by the
    * caller (one rating per rater per item — the fixture binding keeps
    * the latest by event time).
    *
    * Exactness discipline: observed agreement is pairwise per item —
    * Σ_c n_ic(n_ic−1) / (n_i(n_i−1)) — quantized ONCE per item to
    * integer micros (the per-TYPE x28j recipe: one integer division
    * each, then exact sums), and chance agreement Σ_c p_c² uses
    * per-label micro shares; κ = (P_o − P_e)·10⁶ div (10⁶ − P_e) in
    * pure integer arithmetic. Every engine replays the identical
    * divisions, so the statistic hash-matches.
    *
    * Scale shape: ONE shuffle to (item, label) counts, a per-item
    * rollup (window-free), one tiny per-label aggregation (bounded by
    * the label alphabet), broadcast scalar totals. No per-rating state
    * survives the first aggregation. Integer bound: the per-item
    * product agree·10⁶ (agree ≤ n_i²) stays inside Long while an item
    * has < ~3·10⁶ raters — far past any real annotation design; the
    * cross-item sums are Longs over ≤ 10⁶-bounded micros. */
  def fleissKappa(ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String): DataFrame = {
    val base = ratings
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        col(labelCol).isNotNull)
      .select(col(itemCol).as("item"), col(labelCol).as("label"))
    // the (item, label) cell relation feeds FOUR branches (per-item
    // agreement, the kept-item filter, label marginals, the P_e total).
    // EAGER localCheckpoint (the PageRank discipline), not a lazy
    // persist: a lazy cache referenced from five subtrees of one plan
    // let the branches race its first materialization, re-running the
    // expensive upstream (caller-side window/dedup) per branch — the
    // r13 x99 regression (7 s warm on a 2 MB input). Checkpointing
    // truncates lineage, runs the upstream exactly once, and needs no
    // paired unpersist (blocks are released when the RDD is GC'd).
    val cellCounts = base.groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as("n_il"))
      .localCheckpoint(true)
    // perItem is read twice (the totals agg and the kept-item join) —
    // same eager treatment; it is ≤ one row per item
    val perItem = cellCounts.groupBy(col("item"))
      .agg(sum(col("n_il")).as("n_i"),
        sum(col("n_il") * (col("n_il") - 1)).as("agree_pairs"))
      .filter(col("n_i") >= 2)
      .select(col("item"), col("n_i"),
        expr("(agree_pairs * 1000000L) div (n_i * (n_i - 1))")
          .as("a_micro"))
      .localCheckpoint(true)
    val items = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("n_i")).as("n_ratings"), sum(col("a_micro")).as("a_sum"))
    // label shares use only ratings on the ≥2-rater items (the items
    // that contribute to P_o — P_e must marginalize the same population)
    val kept = cellCounts.join(perItem.select(col("item")), Seq("item"))
    val labelTotals = kept.groupBy(col("label"))
      .agg(sum(col("n_il")).as("c_l"))
    val pe = labelTotals.crossJoin(
        broadcast(kept.agg(sum(col("n_il")).as("tot"))))
      .select(expr("(c_l * 1000000L) div tot").as("p_micro"))
      .agg(count(lit(1)).as("n_labels"),
        // Σ p_c² with p_c in micros: the product is micro² — divide one
        // factor of 10⁶ back out AFTER the exact sum
        expr("sum(p_micro * p_micro) div 1000000L").as("pe_micro"))
    items.crossJoin(broadcast(pe))
      .select(col("n_items"), col("n_ratings"), col("n_labels"),
        expr("a_sum div n_items").as("po_micro"), col("pe_micro"))
      .select(col("n_items"), col("n_ratings"), col("n_labels"),
        col("po_micro"), col("pe_micro"),
        // sign-explicit so truncation is toward zero in BOTH engines
        // (Spark `div` truncates; DuckDB `//` floors — identical only
        // on nonnegative operands, so divide |P_o − P_e| and re-sign);
        // a single-label corpus has P_e = 1 and κ is UNDEFINED (the
        // correction denominator is zero) → NULL, never a div-by-zero
        when(col("pe_micro") >= 1000000L, lit(null).cast("long"))
          .otherwise(
            when(col("po_micro") >= col("pe_micro"), lit(1L)).otherwise(lit(-1L))
              * expr("(abs(po_micro - pe_micro) * 1000000L) div (1000000L - pe_micro)"))
          .as("kappa_micro"))
  }

  /** Weighted priority sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, the exponential-clocks form) → exactly k rows,
    * (id, weight, key_micro, rk): each row draws key = −ln(u)/w from its
    * content-addressed unit coordinate u, and the k SMALLEST keys win —
    * inclusion is weight-proportional, the sample is a fixed-size
    * weighted subset. This is the fixed-BUDGET selection primitive next
    * to [[weightedHashSample]] (independent Bernoulli — size varies) and
    * [[stratifiedQuota]] (exact per-stratum counts, uniform within):
    * "give me exactly k docs, preferring high quality" is this one.
    *
    * Deterministic and engine-replayable: u = (hash16(id#ares)+1)/65536
    * (never 0, so ln is finite), the key quantized ONCE per row to
    * integer micros through one written-out IEEE sequence, ties broken
    * by id. Rows with NULL/nonpositive weight carry no clock and are
    * excluded. Scale shape: one hash + one ln per row, then top-k via
    * orderBy+limit — TakeOrderedAndProject (per-partition heaps + one
    * k-row merge), NEVER a global sort. */
  def weightedPrioritySample(docs: DataFrame, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs
      .filter(col(idCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0d)
      .select(col(idCol).as("doc_id"),
        col(weightCol).cast("double").as("weight"),
        hash16(concat(col(idCol).cast("string"), lit("#ares"))).as("h"))
      .withColumn("key_micro", expr(
        "CAST(round((-ln((h + 1) / 65536.0) / weight) * 1000000.0, 0) AS BIGINT)"))
      .orderBy(col("key_micro"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("weight"), col("key_micro"))
  }

  /** Robust outlier flags by modified z-score (Iglewicz & Hoaglin 1993)
    * → (id, stratum, value, z_micro) for |z| above `threshold`: per
    * stratum, z = 0.6745·(x − median)/MAD — the median/MAD pair shrugs
    * off the very outliers that poison a mean/stddev screen (one
    * megadoc inflates σ until nothing flags). The data-quality read
    * before trusting per-source length/score distributions.
    *
    * Exactness: median and MAD come from ONE exact-percentile
    * aggregation each (the x31d portable pair — Spark `percentile` ==
    * DuckDB `quantile_cont` on integer inputs), both rounded to
    * 6 decimals before broadcast; z quantized once per row to integer
    * micros through one written-out IEEE sequence. A zero-MAD stratum
    * (over half the rows at the median) has no robust scale — its rows
    * emit NO flags (NULL z, the x88 zero-variance contract), never a
    * division by zero.
    *
    * Scale shape: two tiny percentile aggregations (strata-bounded)
    * broadcast back; the flag is a row-local comparison — the corpus is
    * scanned twice and never sorted. */
  def robustOutliers(docs: DataFrame, strataCol: String, valueCol: String,
      idCol: String, threshold: Double = 3.5): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val base = docs
      .filter(col(strataCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(strataCol).as("stratum"),
        col(valueCol).cast("double").as("value"))
    val med = base.groupBy(col("stratum"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val mad = base.join(broadcast(med), Seq("stratum"))
      .groupBy(col("stratum"))
      .agg(round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
    base.join(broadcast(med), Seq("stratum"))
      .join(broadcast(mad), Seq("stratum"))
      .filter(col("mad") > 0d)
      .withColumn("z_micro", expr(
        "CAST(round((0.6745 * (value - med) / mad) * 1000000.0, 0) AS BIGINT)"))
      .filter(abs(col("z_micro")) > (threshold * 1e6).toLong)
      .select(col("doc_id"), col("stratum"), col("value"), col("z_micro"))
  }

  /** Corpus-resemblance matrix → (src_a, src_b, n_inter, n_union,
    * jaccard): EXACT Jaccard between each source pair's DISTINCT
    * 3-shingle sets — "how much does corpus A overlap corpus B" at the
    * corpus grain, the triage a curation team runs before ingesting a
    * new dump (x50 counts near-dup DOC pairs per source pair; this
    * measures wholesale set overlap even when no single doc pair
    * crosses the near-dup threshold). Broder's resemblance, computed
    * exactly.
    *
    * Scale shape: the (source, shingle) relation distincts in one
    * aggregation; intersections come from ONE more aggregation — each
    * shingle collapses to its (≤ |sources|, sorted) source set, pair
    * generation is a row-local nested lambda over that bounded array
    * (the x91 discipline), so nothing is ever quadratic in shingles and
    * no shingle-keyed self-join runs. The matrix is bounded by
    * |sources|². */
  def sourceJaccardMatrix(shingles: DataFrame, docs: DataFrame,
      idCol: String, srcCol: String): DataFrame = {
    // the distinct (source, shingle) relation materializes ONCE (eager
    // localCheckpoint): the per-source sizes and the co-occurrence pair
    // build both read it, and without this the doc-join + distinct runs
    // once per branch. Vocabulary × source grain, not corpus rows.
    val srcSh = shingles
      .join(docs.select(col(idCol).as("doc_id"), col(srcCol).as("__src")),
        Seq("doc_id"))
      .filter(col("__src").isNotNull)
      .select(col("__src").as("source"), col("shh"))
      .distinct()
      .localCheckpoint(true)
    val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val pairs = srcSh
      .groupBy(col("shh"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size_(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + 2, size_(col("ss"))),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    // sizes is bounded by |sources| — broadcast unconditionally rather
    // than leaving the static plan on sort-merge (PlanSpec-pinned)
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("ns").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("ns").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"),
        round(col("n_inter").cast("double")
          / (col("na") + col("nb") - col("n_inter")), 6).as("jaccard"))
  }

  /** Duplicate-mass concentration → top-k clusters by size with their
    * share of all clustered docs: (rank, cluster_id, n_docs,
    * share_micro, cum_share_micro) — the read that tells a curation team
    * whether duplication is a few mega-templates (top-3 clusters hold
    * 80% → kill those templates at the source) or a long tail (invest in
    * the pairwise pipeline instead). `clusters` is any (id, cluster)
    * labeling — ride the shared x26e labels so "a cluster" means the
    * same thing as in the dedup queries.
    *
    * Scale shape: one (cluster) count aggregation; top-k via
    * orderBy+limit — TakeOrderedAndProject, never a global sort; the
    * share/cumulative window runs over exactly k rows (the x39c
    * tiny-relation window pattern) with broadcast scalar totals.
    * Shares in exact integer micros. */
  def clusterConcentration(clusters: DataFrame, idCol: String,
      clusterCol: String, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sizes = clusters.filter(col(clusterCol).isNotNull)
      .groupBy(col(clusterCol).as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = sizes.agg(sum(col("n_docs")).as("n_total"))
    val top = sizes.orderBy(col("n_docs").desc, col("cluster_id")).limit(k)
    val ord = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_docs").desc, col("cluster_id"))
    val cum = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(ord).cast("int"))
      .withColumn("cum_docs", sum(col("n_docs")).over(cum))
      .select(col("rank"), col("cluster_id"), col("n_docs"),
        expr("(n_docs * 1000000L) div n_total").as("share_micro"),
        expr("(cum_docs * 1000000L) div n_total").as("cum_share_micro"))
  }

  /** Per-source simple Good–Turing mass estimate → (source, n_tokens,
    * n_types, n_r1, n_r2, unseen_micro): the count-of-counts read a
    * coverage decision consults — N₁/N (Good–Turing) estimates the
    * probability mass of token types NOT YET SEEN from this source, the
    * "how much more vocabulary is out there" dial next to X61's
    * coverage curve (what the seen vocabulary covers) and X95's
    * saturation (how fast types repeat). A saturated/templated source
    * shows unseen mass near 0; an open-vocabulary source holds it up.
    *
    * unseen_micro = N₁·10⁶ div N — exact integer division off exact
    * integer counts; n_r1/n_r2 (singleton/doubleton type counts) ship
    * so a consumer can apply deeper Simple Good–Turing smoothing.
    * Scale shape: one (source, token) count aggregation (map-side
    * partial) + one per-source rollup with conditional sums. */
  def goodTuringMass(docs: DataFrame, srcCol: String,
      textCol: String): DataFrame =
    docs.filter(col(srcCol).isNotNull && col(textCol).isNotNull)
      .select(col(srcCol).as("source"),
        explode(DedupOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_r1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_r2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_r1"), col("n_r2"),
        expr("(n_r1 * 1000000L) div n_tokens").as("unseen_micro"))

  /** Confusion matrix with per-true-class row fractions: (label, pred,
    * n, label_total, row_frac_micros = 10⁶·n div label_total) — the
    * diagonal rows are per-class recall, off-diagonal rows name the
    * confusions. The evaluation table behind trusting any classifier
    * that gates the corpus (lang-id routing, quality filters, toxicity
    * screens); NULL labels/predictions are excluded (they are coverage
    * problems, not confusions).
    *
    * Scale shape: two hash aggregations on low-cardinality class keys
    * (map-side combined) + one broadcast-sized join on label. */
  def confusionMatrix(rows: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val base = rows
      .select(col(labelCol).as("label"), col(predCol).as("pred"))
      .filter(col("label").isNotNull && col("pred").isNotNull)
    base.groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
      .join(base.groupBy(col("label")).agg(count(lit(1)).as("label_total")),
        Seq("label"))
      .select(col("label"), col("pred"), col("n"), col("label_total"),
        expr("(1000000 * n) div label_total").as("row_frac_micros"))
  }

  /** Calibration (reliability) bins + ECE for a probability-like score
    * in [0, 1]: per equal-width bin, the mean predicted probability vs
    * the empirical positive rate, both in exact micros (per-row micro
    * quantization BEFORE the sum — order-independent), the absolute gap,
    * and the expected calibration error ECE = Σ n_b·|gap_b| div N
    * broadcast on every row. A well-calibrated quality/toxicity score
    * hugs the diagonal; filters thresholded on a mis-calibrated score
    * keep the wrong mass ([[filterThresholdSweep]] prices thresholds;
    * this prices the score itself). Out-of-range probabilities clamp
    * into the edge bins.
    *
    * Scale shape: one row-local projection, one aggregation on ≤ nBins
    * keys, one broadcast of the 1-row ECE. */
  def calibrationBins(rows: DataFrame, probCol: String, labelCol: String,
      nBins: Int): DataFrame = {
    require(nBins >= 1, s"need nBins >= 1, got $nBins")
    val base = rows
      .select(col(probCol).cast("double").as("p"),
        col(labelCol).cast("boolean").as("y"))
      .filter(col("p").isNotNull && col("y").isNotNull)
      .select(
        greatest(lit(0L), least(floor(col("p") * nBins).cast("long"),
          lit(nBins - 1L))).as("bin"),
        round(col("p") * 1e6).cast("long").as("p_micro"),
        when(col("y"), 1L).otherwise(0L).as("pos"))
    val bins = base.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("p_micro")).as("sp"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("sp div n").as("mean_p_micros"),
        expr("(1000000 * n_pos) div n").as("emp_micros"))
      .withColumn("gap_micros",
        abs(col("mean_p_micros") - col("emp_micros")))
    bins.crossJoin(broadcast(
      bins.agg(expr("sum(n * gap_micros) div sum(n)").as("ece_micros"))))
  }

  /** Exact ROC-AUC via the Mann–Whitney U statistic with midrank tie
    * handling, in integer arithmetic end to end: group rows by score,
    * one ordered pass over the DISTINCT-score relation accumulates
    * 2·Σ(positive midranks) = Σ_s p_s·(2·cum_s + c_s + 1), and
    * auc_micros = 10⁶·(r2 − n_pos·(n_pos+1)) div (2·n_pos·n_neg) —
    * the threshold-free ranking quality of a filter score
    * ([[calibrationBins]] prices its probabilities; this prices its
    * ORDER). Single-class inputs → NULL. The midrank sum r2 runs in
    * DECIMAL(38,0) (DuckDB's HUGEINT twin), so the arithmetic stays
    * exact to n ≈ 7·10¹⁵ rows — past any corpus this engine will meet;
    * a raise_error guard names the failure (and points at
    * [[aucBucketed]]) instead of silently wrapping if it is ever
    * crossed. `maxExactRows` is the guard's test seam — production
    * callers never pass it.
    *
    * Scale shape: per-score counts are one map-side-combined
    * aggregation; the ordered cumulative pass runs over DISTINCT scores
    * only (value cardinality, not rows), then one scalar reduction. */
  def aucExact(rows: DataFrame, scoreCol: String, labelCol: String,
      maxExactRows: Long = 7000000000000000L): DataFrame = {
    val base = rows
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).as("s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    base.groupBy(col("s"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
      .withColumn("cum", coalesce(sum(col("c")).over(w), lit(0L)))
      .select((col("p").cast("decimal(38,0)") *
          (lit(2L) * col("cum") + col("c") + lit(1L))).as("pr2"),
        col("c"), col("p"))
      .agg(sum(col("pr2")).as("r2"), sum(col("p")).as("n_pos"),
        expr("sum(c) - sum(p)").as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") + col("n_neg") > maxExactRows, expr(
          "raise_error('aucExact: exact-arithmetic bound exceeded" +
            " (n > maxExactRows); pre-bucket with aucBucketed')"))
          .when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(expr(
            "CAST((1000000 * (r2 - CAST(n_pos AS DECIMAL(38,0)) *" +
              " (n_pos + 1))) div (2 * CAST(n_pos AS DECIMAL(38,0)) *" +
              " n_neg) AS BIGINT)"))
          .as("auc_micros"))
  }

  /** The beyond-bound companion to [[aucExact]]: scores quantize to
    * micros, then to `nBuckets` equal-width integer buckets over the
    * observed [min, max] range — bucket = ((s_micro − lo)·nBuckets)
    * div (hi − lo + 1) — and the exact Mann–Whitney midrank AUC runs
    * over the BUCKET as the score. The result is exactly the AUC of the
    * coarsened score (ties within a bucket handled by midranks, the
    * same convention aucExact applies to genuinely tied scores), and
    * the distinct-score mass is capped at nBuckets regardless of corpus
    * size, so the ordered cumulative pass never grows with data. The
    * bucket derivation is pure integer arithmetic on micro-quantized
    * scores — portable to any engine, which is what makes the variant
    * oracle-checkable rather than approximate-and-unverifiable.
    *
    * Scale shape: one 2-value broadcast (lo, hi), one row-local bucket
    * projection, then [[aucExact]]'s distinct-bucket pass over
    * ≤ nBuckets keys. */
  def aucBucketed(rows: DataFrame, scoreCol: String, labelCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    // backtick-quoted everywhere the raw name is re-parsed (expr AND
    // col, whose dot means struct access): a column name with spaces or
    // dots must stay a name, not become SQL
    val base = rows
      .filter(col(s"`$scoreCol`").isNotNull && col(labelCol).isNotNull)
      .select(expr(s"CAST(round(CAST(`$scoreCol` AS DOUBLE) * 1000000.0," +
        " 0) AS BIGINT)").as("s_micro"), col(labelCol).as("y"))
    val bounds = base.agg(min(col("s_micro")).as("lo"),
      max(col("s_micro")).as("hi"))
    val bucketed = base.crossJoin(broadcast(bounds))
      .select(expr(s"((s_micro - lo) * $nBuckets) div (hi - lo + 1)")
        .as("bucket"), col("y"))
    aucExact(bucketed, "bucket", "y")
  }

  /** Exact Spearman rank correlation between two columns via the same
    * midrank identity as [[aucExact]]: per DISTINCT value,
    * midrank·2 = 2·cum + c + 1 (integer — half-ranks stay exact), then
    * Pearson over the doubled midranks with DECIMAL(38,0) sums:
    * num = n·Σxy − Σx·Σy, den_i = n·Σx² − (Σx)², and
    * rho²·10⁶ = floor(10⁶·num²/(den1·den2)) as ONE IEEE double
    * expression over exact integer inputs (the [[centroidDrift]]
    * recipe), sign carried separately since rho² loses it. The
    * monotone-association check between two quality signals (rank
    * agreement is what a FILTER consumes — Pearson on raw values is
    * hostage to outliers the ranks ignore). Constant columns → NULL.
    * Exact while n·Σxy ≲ 10³⁸, i.e. n ≲ 4·10⁹ rows — past that a
    * raise_error guard names the failure and points at
    * [[spearmanBucketed]] instead of silently returning a wrapped
    * value. `maxExactRows` is the guard's test seam — production
    * callers never pass it.
    *
    * Scale shape: per-value counts are map-side-combined aggregations;
    * the two cumulative passes run over DISTINCT values only (value
    * cardinality, not rows — same caveat as [[aucExact]]); the rank
    * joins broadcast the value→midrank relations; one scalar reduce. */
  def spearmanExact(rows: DataFrame, xCol: String, yCol: String,
      maxExactRows: Long = 4000000000L): DataFrame = {
    val base = rows
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("x"), col(yCol).as("y"))
    def mr2(cn: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(cn))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      base.groupBy(col(cn)).agg(count(lit(1)).as("c"))
        .withColumn("cum", coalesce(sum(col("c")).over(w), lit(0L)))
        .select(col(cn),
          (lit(2L) * col("cum") + col("c") + lit(1L)).as(cn + "_mr2"))
    }
    base
      .join(broadcast(mr2("x")), Seq("x"))
      .join(broadcast(mr2("y")), Seq("y"))
      .select(col("x_mr2").cast("decimal(38,0)").as("rx"),
        col("y_mr2").cast("decimal(38,0)").as("ry"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"))
      .select(col("n"),
        (col("n").cast("decimal(38,0)") * col("sxy") - col("sx") * col("sy"))
          .as("num"),
        (col("n").cast("decimal(38,0)") * col("sxx") - col("sx") * col("sx"))
          .as("den1"),
        (col("n").cast("decimal(38,0)") * col("syy") - col("sy") * col("sy"))
          .as("den2"))
      .select(col("n"),
        when(col("num") > 0, 1).when(col("num") < 0, -1).otherwise(0)
          .as("rho_sign"),
        when(col("n") > maxExactRows, expr(
          "raise_error('spearmanExact: exact-arithmetic bound exceeded" +
            " (n > maxExactRows); pre-bucket with spearmanBucketed')"))
          .when(col("den1") === 0 || col("den2") === 0, lit(null))
          .otherwise(expr(
            "CAST(floor(1000000.0 * CAST(num AS DOUBLE) * CAST(num AS DOUBLE)" +
              " / (CAST(den1 AS DOUBLE) * CAST(den2 AS DOUBLE))) AS BIGINT)"))
          .as("rho_sq_micros"))
  }

  /** The beyond-bound companion to [[spearmanExact]]: both columns
    * quantize to micros, then to `nBuckets` equal-width integer buckets
    * over their own observed [min, max] ranges (the [[aucBucketed]]
    * derivation), and the exact midrank Spearman runs over the bucket
    * pair. The result is exactly the rank correlation of the coarsened
    * signals — monotone structure survives a monotone bucketing, ties
    * within a bucket take the same midrank convention genuinely tied
    * values take — and every post-projection relation (distinct values,
    * midrank maps) is capped at nBuckets regardless of corpus size. The
    * bucket derivation is pure integer arithmetic, portable to any
    * engine — the oracle replays it.
    *
    * Scale shape: one 4-value broadcast of the two ranges, one
    * row-local bucket projection, then [[spearmanExact]]'s
    * distinct-value passes over ≤ nBuckets keys each. */
  def spearmanBucketed(rows: DataFrame, xCol: String, yCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    def micro(c: String) =
      expr(s"CAST(round(CAST(`$c` AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
    val base = rows
      .filter(col(s"`$xCol`").isNotNull && col(s"`$yCol`").isNotNull)
      .select(micro(xCol).as("xm"), micro(yCol).as("ym"))
    val bounds = base.agg(
      min(col("xm")).as("xlo"), max(col("xm")).as("xhi"),
      min(col("ym")).as("ylo"), max(col("ym")).as("yhi"))
    val bucketed = base.crossJoin(broadcast(bounds))
      .select(
        expr(s"((xm - xlo) * $nBuckets) div (xhi - xlo + 1)").as("xb"),
        expr(s"((ym - ylo) * $nBuckets) div (yhi - ylo + 1)").as("yb"))
    spearmanExact(bucketed, "xb", "yb")
  }

  /** Benford first-digit audit of a positive integer measure: per digit
    * 1..9 the observed count and frequency in exact micros vs the
    * Benford expectation log₁₀(1 + 1/d) — shipped as TRUNCATED integer
    * micro literals (301029, 176091, …) so no libm call happens in
    * either engine — plus the signed gap and a χ²-style statistic
    * Σ (obs−exp)² div exp broadcast on every row. Fabricated or
    * template-generated numeric fields (prices, counts, quantities)
    * flunk Benford where organically-grown ones pass — the
    * numeric-field twin of the text quality screens. Digits absent from
    * the data emit n = 0 rows (their mass still moves the statistic).
    *
    * Scale shape: one row-local string projection, one 9-key map-side
    * combined aggregation, everything after on ≤ 9 rows. */
  def benfordAudit(rows: DataFrame, valueCol: String): DataFrame = {
    // floor(10⁶·log10(1 + 1/d)) for d = 1..9
    val exp = Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L,
      57991L, 51152L, 45757L)
    val spark = rows.sparkSession
    val digits = spark.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        element_at(array(exp.map(lit): _*), col("id").cast("int"))
          .as("exp_micros"))
    val counts = rows
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(substring(col(valueCol).cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val g = broadcast(digits).join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("exp_micros"))
    val tot = g.agg(sum(col("n")).as("total"))
    val rowsOut = g.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), col("total"),
        when(col("total") === 0, lit(null))
          .otherwise(expr("(1000000 * n) div total")).as("obs_micros"),
        col("exp_micros"))
      .withColumn("gap_micros", col("obs_micros") - col("exp_micros"))
    rowsOut.crossJoin(broadcast(rowsOut.agg(
      sum(expr("((obs_micros - exp_micros) * (obs_micros - exp_micros))" +
        " div exp_micros")).as("chi2_micros"))))
      .select(col("digit"), col("n"), col("total"), col("obs_micros"),
        col("exp_micros"), col("gap_micros"), col("chi2_micros"))
  }

  /** Deterministic bootstrap confidence interval for the mean of a
    * per-row measure: each (row, replicate) draws a Poisson(1) weight by
    * inverse-CDF lookup of the content-addressed 16-bit coordinate
    * (thresholds are the truncated 2¹⁶-scaled Poisson CDF literals —
    * 24109, 48218, 60273, 64291, 65296, 65497, 65530, 65535 — so both
    * engines draw the IDENTICAL weight), each replicate reports its
    * weighted mean in truncated micros, and the 2.5%/97.5% percentile
    * replicates (rank ⌊B/40⌋+1 and B−⌊B/40⌋ of the sorted means)
    * broadcast as the interval. The error bar every corpus-level metric
    * should ship with — a mean quality score without one is noise
    * pretending to be signal. Same resample, same interval, on every
    * run, partitioning, and engine — the property `sample()`-based
    * bootstraps lack.
    *
    * This is the PORTABLE (sha-derived) verification twin — its 16-bit
    * coordinate replays in any engine with sha256, which is what makes
    * the x124 oracle possible, at the cost of B sha evaluations per
    * row. The production default at scale is [[bootstrapCi]]
    * (xxhash64-with-replicate-seed coordinate — one 64-bit hash per
    * (row, replicate), no crypto): identical CDF lookup, identical
    * interval structure, different (equally uniform) draw — the
    * [[dsirWeights]]/[[dsirWeightsPortable]] pattern.
    *
    * Scale shape: the explode is row-local (B·n rows, no text carried —
    * id hash + one Long), the per-replicate sums are one map-side
    * combined B-key aggregation, ranking runs over B rows. */
  def bootstrapCiMicro(rows: DataFrame, idCol: String, valueCol: String,
      nReplicates: Int): DataFrame =
    bootstrapCiImpl(rows, idCol, valueCol, nReplicates,
      hash16(concat(col(idCol).cast("string"), lit("#boot#"),
        col("rep").cast("string"))))

  /** The production bootstrap CI: [[bootstrapCiMicro]]'s exact interval
    * machinery with the per-(row, replicate) 16-bit coordinate drawn
    * from xxhash64(id, "#boot#", rep) instead of sha256 — one codegen'd
    * 64-bit hash per exploded row instead of a cryptographic digest,
    * the at-100-TB default (LlmOpsSpec pins the structural equivalence;
    * the sha twin is what the oracle replays). Deterministic in
    * (id, rep) exactly like the twin. */
  def bootstrapCi(rows: DataFrame, idCol: String, valueCol: String,
      nReplicates: Int): DataFrame =
    bootstrapCiImpl(rows, idCol, valueCol, nReplicates,
      pmod(xxhash64(col(idCol).cast("string"), lit("#boot#"), col("rep")),
        lit(65536L)))

  private def bootstrapCiImpl(rows: DataFrame, idCol: String,
      valueCol: String, nReplicates: Int, coord16: Column): DataFrame = {
    require(nReplicates >= 4, s"need nReplicates >= 4, got $nReplicates")
    // truncated 2^16-scaled Poisson(1) CDF: P(X <= k) for k = 0..7
    val cdf = Seq(24109L, 48218L, 60273L, 64291L, 65296L, 65497L, 65530L,
      65535L)
    val weight = cdf.zipWithIndex.foldRight(lit(8L)) {
      case ((t, k), acc) => when(coord16 < t, k.toLong).otherwise(acc)
    }
    val reps = rows
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol), col(valueCol),
        explode(sequence(lit(0), lit(nReplicates - 1))).as("rep"))
      .select(col("rep"), weight.as("w"), col(valueCol).cast("long").as("v"))
      .groupBy(col("rep"))
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("v")).as("swv"))
      .select(col("rep"), col("n_eff"),
        when(col("n_eff") === 0, lit(null))
          .otherwise(expr("(1000000 * swv) div n_eff")).as("mean_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(coalesce(col("mean_micro"), lit(-1L)), col("rep"))
    val ranked = reps.withColumn("rn", row_number().over(w))
    val loIdx = nReplicates / 40 + 1
    val hiIdx = nReplicates - nReplicates / 40
    val bounds = ranked
      .agg(max(when(col("rn") === loIdx, col("mean_micro"))).as("lo_micro"),
        max(when(col("rn") === hiIdx, col("mean_micro"))).as("hi_micro"))
    ranked.select(col("rep"), col("n_eff"), col("mean_micro"))
      .crossJoin(broadcast(bounds))
  }

  /** Per-group positive rate with the Wilson-score LOWER confidence
    * bound at z = 1.96: (group, n, n_pos, p_micros, wilson_lb_micros).
    * Ranking groups (sources, shards, annotators) by the lower bound
    * instead of the raw rate is the standard fix for small-n groups
    * looking spuriously clean — a 2/2 group ranks below a 95/100 one.
    * The bound is ONE IEEE double expression over the exact integer
    * (n, n_pos) pair — identical in both engines, sqrt is
    * correctly-rounded in both. NULL labels are excluded from n.
    *
    * Scale shape: one map-side-combined aggregation on the group key;
    * the bound is a row-local expression on the tiny grouped relation. */
  def wilsonBounds(rows: DataFrame, groupCol: String,
      labelCol: String): DataFrame =
    rows
      .filter(col(groupCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("n_pos"))
      .select(col("grp"), col("n"), col("n_pos"),
        expr("(1000000 * n_pos) div n").as("p_micros"),
        expr(
          "CAST(floor(1000000.0 * (((CAST(n_pos AS DOUBLE) + 1.96*1.96/2.0)" +
            " / CAST(n AS DOUBLE) - (1.96 / CAST(n AS DOUBLE)) *" +
            " sqrt(CAST(n_pos AS DOUBLE) * (CAST(n AS DOUBLE) -" +
            " CAST(n_pos AS DOUBLE)) / CAST(n AS DOUBLE) + 1.96*1.96/4.0))" +
            " / (1.0 + 1.96*1.96 / CAST(n AS DOUBLE)))) AS BIGINT)")
          .as("wilson_lb_micros"))

  /** Exact average precision (area under the precision-recall curve,
    * step convention) with deterministic tie handling: distinct scores
    * are retrieved as whole BLOCKS in descending order, the block's
    * precision is measured at its END (cum_pos div cum_all, the
    * pessimistic convention — a tied block can't claim its positives
    * sort first), and AP = Σ_blocks p_b·P_b / n_pos in truncated
    * micros. The eval companion to [[aucExact]] for IMBALANCED labels:
    * AUC's random baseline is 500 000 regardless of prevalence, AP's
    * random baseline IS the prevalence — rare-positive screens (toxicity,
    * contamination) need this one. Single-class → NULL.
    *
    * Scale shape: per-score counts are one map-side-combined
    * aggregation; the descending cumulative pass runs over DISTINCT
    * scores only (value cardinality, not rows — the [[aucExact]]
    * caveat), then one scalar reduce. */
  def averagePrecisionExact(rows: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val base = rows
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).as("s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base.groupBy(col("s"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
      .withColumn("cum_all", sum(col("c")).over(w))
      .withColumn("cum_pos", sum(col("p")).over(w))
      .select(col("c"), col("p"),
        (col("p") * expr("(1000000 * cum_pos) div cum_all")).as("term"))
      .agg(sum(col("term")).as("tsum"), sum(col("p")).as("n_pos"),
        expr("sum(c) - sum(p)").as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(expr("tsum div n_pos")).as("ap_micros"))
  }

  /** Source-concentration audit: per group its share of the corpus in
    * exact micros, plus — broadcast on every row — the group count, the
    * Herfindahl–Hirschman index HHI = Σ share_micros² div 10⁶ (10⁶ ⇔
    * one source owns everything, 10⁶/k ⇔ k equal sources), and the
    * Shannon entropy in micro-nats (each term −share·ln(share)
    * rounded ONCE per group, the x28d/x79 libm convention). The
    * one-look answer to "is this corpus secretly one crawl wearing
    * twenty source labels" — mixture weights (X39/X57) treat sources
    * as given; this audits the premise.
    *
    * Scale shape: one map-side-combined aggregation on the group key;
    * everything after runs on the ≤|groups| relation. */
  def sourceConcentration(rows: DataFrame, groupCol: String): DataFrame = {
    val g = rows.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp")).agg(count(lit(1)).as("n"))
    val tot = g.agg(sum(col("n")).as("total"))
    val shares = g.crossJoin(broadcast(tot))
      .select(col("grp"), col("n"), col("total"),
        expr("(1000000 * n) div total").as("share_micros"),
        expr("CAST(round(-(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) *" +
          " ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0, 0)" +
          " AS BIGINT)").as("ent_term"))
    shares.crossJoin(broadcast(shares.agg(
      count(lit(1)).as("n_groups"),
      expr("sum(share_micros * share_micros) div 1000000").as("hhi_micros"),
      sum(col("ent_term")).as("entropy_micro_nats"))))
      .select(col("grp"), col("n"), col("total"), col("share_micros"),
        col("n_groups"), col("hhi_micros"), col("entropy_micro_nats"))
  }

  /** One-pass table profiler (the ANALYZE a pipeline runs before it
    * trusts a new dump): per column the row count, non-null count,
    * EXACT distinct count, and min/max cast to string (binary UTF-8
    * comparison in both engines). Float/Double columns are profiled as
    * their MICRO-QUANTIZED integer view — round(v·10⁶) as BIGINT, the
    * [[matryoshkaAudit]]/[[centroidDrift]] recipe — because float
    * FORMATTING differs across engines ("1.0" vs "1") while integer
    * printing does not: the NDV/min/max of the micro view is
    * engine-portable and still catches the profile drifts that matter
    * (a shifted range, a collapsed cardinality). One output row per
    * column.
    *
    * Scale shape: one dedup-then-reduce per column — groupBy(value)
    * with a map-side-combined count (codegen'd HashAggregate; string
    * KEYS hash fine, it is string BUFFERS that bar HashAggregate),
    * then a 1-row reduction over the DISTINCT relation (n_rows = Σ
    * counts, nn over non-null groups, NDV = non-null group count,
    * min/max). Column pruning makes the per-column scans read the same
    * total bytes as one wide scan, and nothing sorts or expands the
    * raw rows — the previous single-aggregation multi-countDistinct
    * form planned Expand ((1+n_cols)× row blowup) into SortAggregates
    * (the string min/max buffer disqualifies HashAggregate), measured
    * ~14× slower on a 600k-row fixture. At 100 TB profile a
    * [[hashSample]] slice or swap `approx_count_distinct` in
    * (documented alternative, not the default: a profiler that lies
    * about NDV is worse than a slow one). */
  def tableProfile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val floaty = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.FloatType ||
        f.dataType == org.apache.spark.sql.types.DoubleType => f.name
    }.toSet
    def view(c: String) =
      if (floaty(c))
        expr(s"CAST(round(CAST(`$c` AS DOUBLE) * 1000000.0, 0) AS BIGINT)")
      else col(c)
    cols.map { c =>
      df.select(view(c).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("v").isNotNull, col("c")).otherwise(0L)),
            lit(0L)).as("n_nonnull"),
          count(col("v")).as("n_distinct"),
          min(col("v")).cast("string").as("min_str"),
          max(col("v")).cast("string").as("max_str"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }.reduce(_ unionByName _)
  }

  /** Matryoshka truncation audit: per vector, how much of the squared
    * norm survives keeping only the first `prefixDims` components —
    * retained_micros = 10⁶·‖v[1..k]‖² div ‖v‖² on micro-quantized
    * components (exact integer Longs, order-independent), with the
    * corpus mean broadcast. The measurement behind a dimension-
    * truncation storage decision (half the dims at 95% retained norm ⇒
    * the ANN index shrinks 2× for ~5% score distortion) — embeddings
    * trained matryoshka-style front-load the norm; this checks whether
    * YOURS did. Zero vectors → NULL retained, excluded from the mean.
    *
    * Scale shape: entirely row-local arithmetic + one 1-row broadcast
    * aggregation; no shuffle carries a vector. */
  def matryoshkaAudit(emb: DataFrame, idCol: String, vecCol: String,
      prefixDims: Int): DataFrame = {
    require(prefixDims >= 1, s"need prefixDims >= 1, got $prefixDims")
    val mv = s"transform($vecCol, v -> " +
      "CAST(round(CAST(v AS DOUBLE) * 1000000.0, 0) AS BIGINT))"
    val rows = emb
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        expr(s"aggregate($mv, 0L, (a, x) -> a + x * x)").as("full2"),
        expr(s"aggregate(slice($mv, 1, $prefixDims), 0L," +
          " (a, x) -> a + x * x)").as("prefix2"))
      .select(col("vec_id"), col("full2"), col("prefix2"),
        when(col("full2") === 0, lit(null))
          .otherwise(expr("(1000000 * prefix2) div full2"))
          .as("retained_micros"))
    rows.crossJoin(broadcast(rows.agg(
      expr("sum(retained_micros) div count(retained_micros)")
        .as("mean_retained_micros"))))
  }

  /** Autocorrelation of the daily ingestion count at the given lags:
    * per lag, exact Pearson r over the (day, day+lag) count pairs —
    * DECIMAL(38,0) sums, r²·10⁶ as ONE IEEE double expression over
    * exact integers with the sign carried separately (the
    * [[spearmanExact]] recipe on raw values — counts have no outliers a
    * rank transform must tame). r(7) ≫ r(1) is the weekly-seasonality
    * signature; a collapse of both flags an ingestion regime change
    * before [[rollingAnomaly]]'s per-bucket z-scores accumulate. Days
    * absent from the data drop their pairs (documented: gaps are not
    * zero-filled — a silent zero day IS the anomaly and shows up in
    * [[cusumChangepoint]] instead). Lags with < 3 pairs or constant
    * counts → NULL.
    *
    * Scale shape: the corpus reduces to one (day, count) aggregation
    * (map-side combined); every join/window after runs on the ≤|days|
    * relation — broadcast-sized at any corpus size. */
  def dailyAutocorr(events: DataFrame, tsCol: String,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), s"bad lags: $lags")
    val daily = events.filter(col(tsCol).isNotNull)
      .select(expr(s"(unix_millis(CAST($tsCol AS TIMESTAMP)) div 86400000L)")
        .as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val pairs = lags.map { lag =>
      daily.as("a")
        .join(daily.as("b"), col("b.day") === col("a.day") + lag)
        .select(lit(lag).as("lag"),
          col("a.y").cast("decimal(38,0)").as("x"),
          col("b.y").cast("decimal(38,0)").as("z"))
    }.reduce(_ unionAll _)
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("z") * col("z")).as("szz"))
      .select(col("lag"), col("n_pairs"),
        (col("n_pairs").cast("decimal(38,0)") * col("sxz")
          - col("sx") * col("sz")).as("num"),
        (col("n_pairs").cast("decimal(38,0)") * col("sxx")
          - col("sx") * col("sx")).as("den1"),
        (col("n_pairs").cast("decimal(38,0)") * col("szz")
          - col("sz") * col("sz")).as("den2"))
      .select(col("lag"), col("n_pairs"),
        when(col("num") > 0, 1).when(col("num") < 0, -1).otherwise(0)
          .as("r_sign"),
        when(col("n_pairs") < 3 || col("den1") === 0 || col("den2") === 0,
          lit(null))
          .otherwise(expr(
            "CAST(floor(1000000.0 * CAST(num AS DOUBLE) * CAST(num AS DOUBLE)" +
              " / (CAST(den1 AS DOUBLE) * CAST(den2 AS DOUBLE))) AS BIGINT)"))
          .as("r_sq_micros"))
  }

  /** CUSUM changepoint scan over the daily ingestion count: per day the
    * exact cumulative deviation S_t = n·Σ_{i≤t} y_i − t·T (the
    * mean-free cumulative sum scaled by n to stay integer — S_t/n is
    * the classic CUSUM), plus — broadcast on every row — the argmax day
    * of |S_t| (ties → earliest) and the max |S_t| itself: the
    * single most likely level-shift location. [[rollingAnomaly]] flags
    * single weird buckets; this locates a PERSISTENT regime change
    * (crawler config shift, a source going dark) that per-bucket
    * z-scores absorb into their trailing window. Exact while
    * n_days·total_events < 2⁶³ (~10⁵ days × 10¹³ events).
    *
    * Scale shape: one (day, count) aggregation; the ordered cumulative
    * pass and the argmax run on the ≤|days| relation (single-partition
    * window over days — value cardinality, bounded by calendar time,
    * not corpus size). */
  def cusumChangepoint(events: DataFrame, tsCol: String): DataFrame = {
    val daily = events.filter(col(tsCol).isNotNull)
      .select(expr(s"(unix_millis(CAST($tsCol AS TIMESTAMP)) div 86400000L)")
        .as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = daily.agg(sum(col("y")).as("tt"), count(lit(1)).as("nd"))
    val s = daily
      .withColumn("t", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
      .withColumn("cy", sum(col("y")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("day"), col("y"), col("t"),
        (col("nd") * col("cy") - col("t") * col("tt")).as("s_dev"))
    s.crossJoin(broadcast(
      s.select(col("day"), abs(col("s_dev")).as("a"))
        .orderBy(col("a").desc, col("day")).limit(1)
        .select(col("day").as("cp_day"), col("a").as("max_abs_dev"))))
  }

  /** Greedy k-center coreset (Gonzalez 2-approximation): from a
    * deterministic pool (the `poolSize` lowest ids), seed with the
    * lowest id, then k−1 rounds of "select the point FARTHEST from the
    * selected set" (max of min squared-L2, micros; ties → smallest id).
    * Pure-coverage representative selection — [[mmrDiverseTopK]] trades
    * relevance against diversity around a query; k-center has no query
    * and maximizes coverage alone, and its mindist_micro column is the
    * (decreasing) covering-radius sequence: stop when it plateaus and k
    * was enough. The coreset/prototype pick behind "label k examples
    * that span the space".
    *
    * Scale shape: the MMR loop discipline — each round one bounded-pool
    * argmax (TakeOrderedAndProject after localCheckpoint, lineage never
    * re-expands) and one broadcast fold of the single selected row; the
    * corpus is touched once to build the pool. */
  def kCenterCoreset(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, poolSize: Int): DataFrame = {
    require(k >= 1 && k <= poolSize, s"need 1 <= k <= poolSize, got $k/$poolSize")
    import graft.functions.VectorFunctions.dot_product
    def dMicro(a: Column, b: Column): Column =
      round((dot_product(a, a) - lit(2d) * dot_product(a, b)
        + dot_product(b, b)) * lit(1e6)).cast("long")
    var pool = corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).as("c_id"), col(embCol).as("emb"))
      .orderBy(col("c_id")).limit(poolSize)
      .localCheckpoint(true)
    var sel = pool.orderBy(col("c_id")).limit(1).localCheckpoint(true)
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    picks += sel.select(lit(1).as("rank"), col("c_id"),
      lit(null).cast("long").as("mindist_micro"))
    pool = pool.crossJoin(broadcast(
        sel.select(col("c_id").as("s_id"), col("emb").as("s_emb"))))
      .filter(col("c_id") =!= col("s_id"))
      .select(col("c_id"), col("emb"),
        dMicro(col("emb"), col("s_emb")).as("md"))
      .localCheckpoint(true)
    for (r <- 2 to k) {
      sel = pool.orderBy(col("md").desc, col("c_id")).limit(1)
        .localCheckpoint(true)
      picks += sel.select(lit(r).as("rank"), col("c_id"),
        col("md").as("mindist_micro"))
      if (r < k) {
        pool = pool.crossJoin(broadcast(
            sel.select(col("c_id").as("s_id"), col("emb").as("s_emb"))))
          .filter(col("c_id") =!= col("s_id"))
          .select(col("c_id"), col("emb"),
            least(col("md"), dMicro(col("emb"), col("s_emb"))).as("md"))
          .localCheckpoint(true)
      }
    }
    picks.reduce(_ unionAll _)
  }

  /** Shared-prefix boilerplate clusters: group documents by the hash of
    * their first `prefixLen` characters and report groups where ≥ 2 docs
    * share the prefix but ≥ 2 DISTINCT full bodies exist — the
    * template/boilerplate-header signature (site chrome, license
    * headers, generated-page scaffolds) that exact dedup (identical
    * bodies collapse to one hash) and shingle Jaccard (long distinct
    * tails swamp the shared head) both miss. Docs shorter than the
    * prefix are excluded — their "prefix" is the whole body, which is
    * exact-dedup's jurisdiction.
    *
    * Scale shape: text reduces to TWO 32-byte hashes per doc at the
    * scan; one groupBy on the prefix hash with a distinct-count on the
    * body hash. No joins, no text in any shuffle. */
  def prefixBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      prefixLen: Int): DataFrame = {
    require(prefixLen >= 1, s"need prefixLen >= 1, got $prefixLen")
    docs
      .filter(col(textCol).isNotNull && length(col(textCol)) >= prefixLen)
      .select(col(idCol).as("doc_id"),
        sha2(substring(col(textCol), 1, prefixLen), 256).as("prefix_hash"),
        sha2(col(textCol), 256).as("text_hash"))
      .groupBy(col("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text_hash")).as("n_distinct"),
        min(col("doc_id")).as("min_doc"))
      .where(col("n_docs") >= 2 && col("n_distinct") >= 2)
  }

  /** Per-group embedding centroid drift between two corpus halves
    * (id parity = "version A vs version B"): each component is quantized
    * to integer micros FIRST — so the per-dimension sums are
    * order-independent exact Longs, never a float reduction — then the
    * centroid is the truncated integer mean and the drift ships as
    * exact (dot, ‖a‖², ‖b‖²) plus the derived cos²·10⁶ (one
    * IEEE-identical double expression over exact integer inputs; sign
    * carried separately since cos² loses it). cos²→10⁶ means identical
    * centroid directions; a drop flags representation drift between
    * corpus versions — the embedding-space twin of the count-based
    * corpus diff.
    *
    * Scale shape: quantize is row-local; the (group, half, dim) sums are
    * map-side combined (d·groups·2 rows out of the shuffle, never n·d);
    * everything after runs on centroid-sized relations. Integer bounds:
    * |mean micro| ≤ 10⁶·max|v| keeps dot ≤ d·10¹⁴ for |v| ≤ ~40 —
    * corpus-size-independent because means, not sums, are multiplied. */
  def centroidDrift(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val q = emb.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"), (col(idCol) % 2).as("half"),
        expr(s"transform($vecCol, v -> " +
          "CAST(round(CAST(v AS DOUBLE) * 1000000.0, 0) AS BIGINT))").as("mv"))
    val cnt = q.groupBy(col("label"), col("half")).agg(count(lit(1)).as("n"))
    val cent = q
      .select(col("label"), col("half"), posexplode(col("mv")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("half"), col("dim")).agg(sum(col("v")).as("sv"))
      .join(cnt, Seq("label", "half"))
      .select(col("label"), col("half"), col("dim"),
        expr("sv div n").as("c"), col("n"))
    val a = cent.where(col("half") === 0)
      .select(col("label"), col("dim"), col("c").as("ca"), col("n").as("n_a"))
    val b = cent.where(col("half") === 1)
      .select(col("label"), col("dim"), col("c").as("cb"), col("n").as("n_b"))
    a.join(b, Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("na2"),
        sum(col("cb") * col("cb")).as("nb2"))
      .select(col("label"), col("n_a"), col("n_b"), col("dot"), col("na2"),
        col("nb2"),
        when(col("dot") > 0, 1).when(col("dot") < 0, -1).otherwise(0)
          .as("dot_sign"),
        when(col("na2") === 0 || col("nb2") === 0, lit(null))
          .otherwise(expr(
            "CAST(floor(1000000.0 * CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)" +
              " / (CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE))) AS BIGINT)"))
          .as("cos2_micros"))
  }

  /** k-anonymity / l-diversity audit: group rows by the quasi-identifier
    * columns and report every group violating EITHER bound — size < k
    * (re-identification risk: few rows share this quasi-identifier
    * combination) or distinct-sensitive-values < l (attribute
    * disclosure: the group's sensitive column is near-constant, so
    * membership alone reveals it). The release gate a privacy pass runs
    * before user-derived rows enter a training corpus; an empty result
    * is the pass condition. NULL quasi values form their own group
    * (standard GROUP BY semantics in both engines); NULL sensitive
    * values don't count toward l (COUNT DISTINCT ignores them).
    *
    * Scale shape: ONE hash aggregation on the quasi columns with
    * map-side partials; count(DISTINCT sensitive) expands per group but
    * never beyond the raw rows. No window, no join, no sort. */
  def kAnonymityAudit(rows: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    rows.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("l_div"))
      .where(col("group_size") < k || col("l_div") < l)
  }

  /** Dataloader-order interleaving audit over a (doc_id, shard, pos)
    * layout (e.g. [[epochShuffle]]): per shard, how often do ADJACENT
    * positions come from the same source, and how long is the longest
    * same-source run? A healthy epoch permutation drives the adjacent
    * same-source fraction toward the source-share ("well mixed"); a
    * broken shuffle (sorted-by-source input, degenerate salt) shows up
    * as long runs — gradient batches dominated by one source.
    * same_frac_micros = 10⁶·n_adjacent_same div (n_docs−1), exact; NULL
    * for single-doc shards.
    *
    * Scale shape: one join layout⋈docs on doc_id (layout carries no
    * text), then window work PARTITIONED BY shard — each shard sorts
    * independently, so parallelism is the shard count and no global
    * sort exists. Runs are gaps-and-islands off the same lag pass. */
  def shuffleQualityAudit(layout: DataFrame, docs: DataFrame,
      idCol: String, sourceCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("pos"))
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val lagged = layout
      .join(docs.select(col(idCol).as("doc_id"), col(sourceCol).as("src")),
        Seq("doc_id"))
      .withColumn("same",
        when(lag(col("src"), 1).over(w) === col("src"), 1L).otherwise(0L))
    val runLen = lagged
      .withColumn("run_id", sum(lit(1L) - col("same")).over(wRun))
      .groupBy(col("shard"), col("run_id"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("shard")).agg(max(col("run_len")).as("max_run"))
    lagged.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("same")).as("n_adjacent_same"))
      .join(runLen, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("n_adjacent_same"),
        when(col("n_docs") <= 1, lit(null))
          .otherwise(expr("(1000000 * n_adjacent_same) div (n_docs - 1)"))
          .as("same_frac_micros"),
        col("max_run"))
  }

  /** Shard load-balance audit over a (doc_id, shard) layout: per-shard
    * load totals reduced to one summary row — max/min/total load, the
    * straggler ratio skew_micros = 10⁶·max_load·n_shards div total
    * (10⁶ = perfectly balanced; 2·10⁶ = the slowest shard carries twice
    * its fair share — the wall-clock multiplier of the epoch), and the
    * exact Gini coefficient in micros (10⁶·Σᵢⱼ|xᵢ−xⱼ| div 2n·Σx). The
    * "will this layout straggle" check next to [[shuffleQualityAudit]]'s
    * "is it mixed".
    *
    * Integer bounds: exact while max_load·n_shards ≤ ~9·10¹² and
    * n_shards²·max_load ≤ ~9·10¹² — with 1024 shards that is ~10 GB of
    * per-shard character load headroom, i.e. 100 TB-corpus territory;
    * beyond it, pre-scale the load column (e.g. KB units).
    *
    * Scale shape: the corpus reduces to (shard, load) — n_shards rows —
    * in one map-side-combined aggregation; the |xᵢ−xⱼ| cross pair runs
    * on that tiny relation only (broadcast nested loop over n_shards²
    * scalars, never rows). */
  def shardBalanceAudit(layout: DataFrame, docs: DataFrame,
      idCol: String, loadCol: String): DataFrame = {
    val loads = layout
      .join(docs.select(col(idCol).as("doc_id"), col(loadCol).as("load")),
        Seq("doc_id"))
      .groupBy(col("shard")).agg(sum(col("load")).as("shard_load"))
    // both sides are ≤ n_shards rows; the broadcast hint keeps the pair
    // scan a BroadcastNestedLoopJoin instead of a CartesianProduct node
    // (same cost here, but CartesianProduct is the plan shape the repo
    // bans globally — no exceptions to grep around)
    val pairAbs = loads.select(col("shard_load").as("la"))
      .crossJoin(broadcast(loads.select(col("shard_load").as("lb"))))
      .agg(sum(abs(col("la") - col("lb"))).as("pair_abs"))
    loads
      .agg(count(lit(1)).as("n_shards"), sum(col("shard_load")).as("total_load"),
        max(col("shard_load")).as("max_load"), min(col("shard_load")).as("min_load"))
      .crossJoin(pairAbs)
      .select(col("n_shards"), col("total_load"), col("max_load"),
        col("min_load"),
        when(col("total_load") === 0, lit(null))
          .otherwise(expr("(1000000 * max_load * n_shards) div total_load"))
          .as("skew_micros"),
        when(col("total_load") === 0, lit(null))
          .otherwise(
            expr("(1000000 * pair_abs) div (2 * n_shards * total_load)"))
          .as("gini_micros"))
  }

  /** Distributed AS-OF join — each left row matched to the LATEST right
    * row with right.ts ≤ left.ts on the same key (the point-in-time
    * lookup behind last-touch attribution, slowly-changing-dimension
    * reads, and feature-store training joins; reference ops express the
    * per-event "state as of then" question this answers). Implemented
    * with the union-tag trick: both sides union into one relation, one
    * shuffle on the key, one sort by (ts, side, id), and a
    * last_value(ignoreNulls) carry-forward — NO per-row subquery, no
    * range-join explosion; the cost is a single sort per key partition
    * regardless of how many right rows precede each left row. Ties:
    * a right row AT the left row's timestamp matches (right sorts
    * first); among right rows sharing (key, ts) the max `rightIdCol`
    * wins (deterministic). Timestamps are caller-provided LONGs (ms) —
    * the portable grain.
    *
    * Output: the left columns + `matched_id` (NULL when no right row
    * precedes) + `asof_gap_ms`.
    *
    * Scale shape: one hash exchange on `keyCol` + one in-partition
    * sort; the window is partitioned by key (never a global sort). A
    * 100 TB left with a hot key skews like any keyed window — use
    * [[asOfJoinSalted]] (same semantics, (key, time-bucket) windows +
    * a cross-bucket carry-in) when a single entity's history exceeds a
    * partition. */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, rightIdCol: String): DataFrame = {
    val leftCols = left.columns.toSeq
    val lt = left
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("long").as("__t"),
        lit(1).as("__side"), lit(null).cast("long").as("__rid"),
        struct(leftCols.map(col): _*).as("__l"))
    val rt = right
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(rightIdCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("long").as("__t"),
        lit(0).as("__side"), col(rightIdCol).cast("long").as("__rid"),
        lit(null).cast(left.select(struct(leftCols.map(col): _*))
          .schema.head.dataType.sql).as("__l"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"), col("__rid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    lt.unionByName(rt)
      .withColumn("__m", last(
        when(col("__side") === 0,
          struct(col("__t").as("rt"), col("__rid").as("rid"))),
        ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(c => col(s"__l.$c").as(c)) ++ Seq(
        col("__m.rid").as("matched_id"),
        (col("__t") - col("__m.rt")).as("asof_gap_ms")): _*)
  }

  /** SKEW-HARDENED [[asOfJoin]]: identical semantics (latest right row
    * with right.ts ≤ left.ts per key, same (ts, side, max-rid)
    * tie-break), but the carry-forward window partitions by
    * (key, time-bucket) instead of key alone, so ONE hot entity's
    * history spreads over timeline÷`bucketMs` partitions instead of
    * landing in a single straggler — the plain form's documented 100 TB
    * hot-key failure. Two phases:
    *   1. within each (key, ⌊ts/bucketMs⌋) bucket, the plain
    *      carry-forward window — bounded by the bucket's rows, never by
    *      the key's;
    *   2. a per-(key, bucket) summary (max right (ts, id) struct — one
    *      row per bucket, so the per-key prefix window runs over bucket
    *      COUNT, not event count) prefix-maxed over earlier buckets and
    *      joined back as the carry-in for left rows with no
    *      within-bucket match. Correct because bucket ranges are
    *      disjoint and ascending: any right row in an earlier bucket
    *      precedes every left ts in this one, and the latest such row is
    *      exactly the prefix max (ts ties can't span buckets).
    * Pick `bucketMs` so a hot key's densest bucket fits a partition
    * (e.g. an hour for click streams); keys too small to skew just see
    * a few extra tiny partitions. */
  def asOfJoinSalted(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, rightIdCol: String, bucketMs: Long): DataFrame = {
    require(bucketMs >= 1, s"need bucketMs >= 1, got $bucketMs")
    val leftCols = left.columns.toSeq
    val lt = left
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("long").as("__t"),
        lit(1).as("__side"), lit(null).cast("long").as("__rid"),
        struct(leftCols.map(col): _*).as("__l"))
    val rt = right
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(rightIdCol).isNotNull)
      .select(col(keyCol).as("__k"), col(tsCol).cast("long").as("__t"),
        lit(0).as("__side"), col(rightIdCol).cast("long").as("__rid"),
        lit(null).cast(left.select(struct(leftCols.map(col): _*))
          .schema.head.dataType.sql).as("__l"))
    // floor division (not div's truncation toward zero), so negative
    // timestamps bucket consistently with positive ones
    val tagged = lt.unionByName(rt).withColumn("__b",
      expr(s"CASE WHEN __t >= 0 THEN __t div $bucketMs" +
        s" ELSE -((-__t + $bucketMs - 1) div $bucketMs) END"))
    val rightStruct =
      when(col("__side") === 0,
        struct(col("__t").as("rt"), col("__rid").as("rid")))
    // phase 2 summary first: one row per (key, bucket) PRESENT on either
    // side (a left-only bucket still needs its carry-in), with the
    // bucket's latest right row (max struct = lexicographic (ts, rid) —
    // the same tie-break as the in-bucket window)
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
      .orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val carry = tagged.groupBy(col("__k"), col("__b"))
      .agg(max(rightStruct).as("__bmax"))
      .select(col("__k"), col("__b"), max(col("__bmax")).over(wb).as("__carry"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k"), col("__b"))
      .orderBy(col("__t"), col("__side"), col("__rid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tagged
      .withColumn("__m0", last(rightStruct, ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .join(carry, Seq("__k", "__b"))
      .withColumn("__m", coalesce(col("__m0"), col("__carry")))
      .select(leftCols.map(c => col(s"__l.$c").as(c)) ++ Seq(
        col("__m.rid").as("matched_id"),
        (col("__t") - col("__m.rt")).as("asof_gap_ms")): _*)
  }

  /** Per-group Bayesian-average (pseudo-count shrinkage) score: each
    * group's mean pulled toward the corpus grand mean by λ virtual
    * observations — shrunk = (Σ_g + λ·m) / (n_g + λ), computed entirely
    * in exact integer micros: m_micros = 10⁶·Σ div N once, then
    * (10⁶·Σ_g + λ·m_micros) div (n_g + λ) per group. THE fix for
    * ranking groups (sources, annotators, domains) by a continuous
    * quality score when group sizes vary by orders of magnitude — a
    * 2-doc source with two lucky scores must not outrank a 10k-doc
    * source ([[wilsonBounds]] solves this for BINARY labels; this is
    * the continuous-score twin). Output: (grp, n, mean_micros,
    * grand_mean_micros, shrunk_micros), with shrunk between the raw
    * group mean and the grand mean by construction.
    *
    * Scale shape: one map-side-combined group aggregation + one 1-row
    * broadcast; everything after is row-local on the tiny grouped
    * relation. */
  def bayesAverage(rows: DataFrame, groupCol: String, valueCol: String,
      lambda: Long): DataFrame = {
    require(lambda >= 1, s"need lambda >= 1, got $lambda")
    val base = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        integralLong(valueCol, "bayesAverage").as("v"))
    val g = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val grand = g.agg(expr("(1000000 * sum(s)) div sum(n)")
      .as("grand_mean_micros"))
    g.crossJoin(broadcast(grand))
      .select(col("grp"), col("n"),
        expr("(1000000 * s) div n").as("mean_micros"),
        col("grand_mean_micros"),
        expr(s"(1000000 * s + $lambda * grand_mean_micros)" +
          s" div (n + $lambda)").as("shrunk_micros"))
  }

  /** PORTABLE bounded-memory distinct-count sketch: K-Minimum-Values
    * (Bar-Yossef et al.) on a sha-derived 52-bit coordinate — the
    * hash-checkable companion to q09's HyperLogLog, the same role
    * [[logHistQuantiles]] plays for the GK quantile sketch. Each
    * distinct value hashes to conv(first 13 sha256 hex chars) ∈
    * [0, 2⁵²); the k smallest DISTINCT hashes summarize the set, and
    * ndv_est = (k−1)·2⁵² div kth_min (standard KMV, ±~1/√k relative
    * error). When fewer than k distinct hashes exist the count is
    * exact. Both the coordinate and the estimator are integer
    * arithmetic either engine replays — unlike HLL, whose register
    * layout is engine-internal — and the k-mins summary is MERGEABLE
    * (union then re-take k smallest). Output: one row (k, n_hashes,
    * kth_min, ndv_est).
    *
    * Scale shape: one map-side-combined dedup on the hash, then
    * TakeOrderedAndProject of k rows; nothing else leaves the
    * executors. The 52-bit space holds ~10¹² distinct values before
    * hash collisions bias the estimate ~0.1% — past that, widen the
    * parse (sha256 has 256 bits to spend). */
  def kmvDistinct(rows: DataFrame, valueCol: String, k: Int): DataFrame =
    kmvEstimateFromMins(kmvMins(rows, valueCol, k), k)

  /** The k-minimum-hashes summary behind [[kmvDistinct]], exposed
    * because MERGEABILITY is the sketch's point: per-shard summaries
    * union and feed [[kmvEstimateFromMins]] (which re-dedups and
    * re-takes the k smallest — the k smallest of a union of per-shard
    * k-smallest sets equals the k smallest of the union, exactly). The
    * x142b query holds the merged form to the direct form's oracle. */
  def kmvMins(rows: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 16, s"need k >= 16 for a usable estimate, got $k")
    val spark = rows.sparkSession
    import spark.implicits._
    val hashes = rows
      .filter(col(valueCol).isNotNull)
      .select(expr(s"CAST(conv(substring(sha2(CAST(`$valueCol` AS STRING)," +
        " 256), 1, 13), 16, 10) AS BIGINT)").as("h"))
      .as[Long]
    // Per-partition k-smallest-DISTINCT pre-cut before the global
    // distinct: the k smallest of a union of per-partition k-smallest
    // sets IS the k smallest of the union (the same merge law x142b
    // hash-checks), so the exchange below carries ≤ n_partitions·k rows
    // instead of the full O(NDV) distinct-hash relation — the difference
    // between a sketch and shuffling 10¹² hashes at 100 TB. A bounded
    // TreeSet (dedup + ordered eviction) at the sketch boundary;
    // mapPartitions is warranted here for the same reason it is at the
    // binary-decode boundary: no Catalyst operator expresses "bounded
    // k-distinct-min per partition" without first shuffling everything.
    val pre = hashes.mapPartitions { it =>
      val heap = new java.util.TreeSet[java.lang.Long]()
      it.foreach { h =>
        if (heap.size < k) heap.add(h)
        else if (h < heap.last) { heap.add(h); if (heap.size > k) heap.pollLast() }
      }
      import scala.jdk.CollectionConverters._
      heap.iterator().asScala.map(_.longValue)
    }.toDF("h")
    pre.distinct().orderBy(col("h")).limit(k)
  }

  /** [[kmvDistinct]]'s estimator over a pre-built (possibly merged)
    * `h` k-mins relation. */
  def kmvEstimateFromMins(mins: DataFrame, k: Int): DataFrame = {
    require(k >= 16, s"need k >= 16 for a usable estimate, got $k")
    mins.select(col("h")).distinct().orderBy(col("h")).limit(k)
      .agg(count(lit(1)).as("n_hashes"), max(col("h")).as("kth_min"))
      .select(lit(k).as("k"), col("n_hashes"), col("kth_min"),
        when(col("n_hashes") < k, col("n_hashes"))
          .otherwise(expr(s"(CAST(${k - 1} AS BIGINT) * 4503599627370496)" +
            " div kth_min")).as("ndv_est"))
  }

  /** Exact-integer nDCG@k per query group: docs ranked by score
    * descending (ties broken by gain descending then arbitrary-but-
    * deterministic within the oracle's replay — callers should pass
    * distinct scores or accept gain-favoring ties), the top k gains
    * weighted by truncated micro discounts ⌊10⁶/log₂(i+1)⌋ (shipped as
    * integer literals like the Benford expectations — no libm call in
    * either engine), IDCG from the same gains sorted descending, and
    * ndcg_micros = 10⁶·DCG div IDCG. The graded-relevance ranking
    * metric completing the eval shelf (AUC prices order, AP prices
    * rare-positive order, this prices ORDER WITH POSITION DISCOUNTS —
    * what a reranker or curriculum front-load is actually judged by).
    * Groups with zero total gain emit NULL.
    *
    * Scale shape: two keyed windows over the per-query relation (never
    * global), one aggregation; k bounds the discount table, not the
    * data. */
  def ndcgAtK(rows: DataFrame, queryCol: String, scoreCol: String,
      gainCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 20, s"need 1 <= k <= 20, got $k")
    // ⌊10⁶/log₂(i+1)⌋ for i = 1..20
    val disc = Seq(1000000L, 630929L, 500000L, 430676L, 386852L, 356207L,
      333333L, 315464L, 301029L, 289064L, 278942L, 270238L, 262649L,
      255958L, 250000L, 244650L, 239812L, 235408L, 231378L, 227670L)
    val base = rows
      .filter(col(queryCol).isNotNull && col(scoreCol).isNotNull &&
        col(gainCol).isNotNull)
      .select(col(queryCol).as("grp"), col(scoreCol).as("s"),
        col(gainCol).cast("long").as("g"))
    def topGainSum(orderBy: Seq[Column]): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(orderBy: _*)
      base.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("grp"),
          (col("g") * element_at(array(disc.map(lit): _*), col("rn")))
            .as("term"))
        .groupBy(col("grp")).agg(sum(col("term")).as("sum_micros"))
    }
    val dcg = topGainSum(Seq(col("s").desc, col("g").desc))
      .withColumnRenamed("sum_micros", "dcg_micros")
    val idcg = topGainSum(Seq(col("g").desc, col("s").desc))
      .withColumnRenamed("sum_micros", "idcg_micros")
    dcg.join(idcg, Seq("grp"))
      .select(col("grp"), col("dcg_micros"), col("idcg_micros"),
        when(col("idcg_micros") === 0, lit(null))
          .otherwise(expr("(1000000 * dcg_micros) div idcg_micros"))
          .as("ndcg_micros"))
  }

  /** PORTABLE bounded-memory quantile sketch: an HDR-style log-bucketed
    * histogram — bucket(v ≥ 1) = octave·k + sub, octave = ⌊log₂ v⌋
    * computed as len(bin(v)) − 1 (pure integer, both engines print the
    * same binary), sub = ((v − 2^octave)·k) div 2^octave — then each
    * requested quantile reports the FIRST bucket whose cumulative count
    * reaches rank ⌈q·n⌉, with the bucket's [lo, hi] value range. The
    * estimate's relative error is bounded by the bucket width: ≤ 1/k of
    * the value. Unlike the GK sketch behind q08d, every step here is
    * integer arithmetic an oracle can replay — the sketch itself is
    * hash-checkable across engines — and the histogram is a trivially
    * MERGEABLE counts relation (sum buckets across shards/days), which
    * GK merging is not. Zeros land in a dedicated bucket −1 (value
    * range [0, 0]), so n conserves the input row count for any
    * nonnegative measure; NEGATIVE values raise a named in-plan error
    * (a log histogram has no finite bucket for them — shift the measure
    * nonnegative at the call site) instead of silently vanishing from
    * the counts.
    *
    * Scale shape: one map-side-combined aggregation on ≤ 64·k bucket
    * keys; the cumulative pass and quantile selection run on that tiny
    * relation. */
  def logHistQuantiles(rows: DataFrame, valueCol: String, k: Int,
      quantiles: Seq[Double]): DataFrame =
    logHistQuantilesFromHistogram(logHistogram(rows, valueCol, k), k,
      quantiles)

  /** The mergeable `(bucket, c)` histogram behind [[logHistQuantiles]],
    * exposed because MERGEABILITY is the sketch's point: per-shard /
    * per-day histograms union and re-aggregate (`groupBy(bucket).sum`)
    * into exactly the whole-corpus histogram — the x139b query holds
    * the merged form to the direct form's oracle, so the merge law is
    * hash-checked, not asserted. */
  def logHistogram(rows: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need k >= 2 sub-buckets, got $k")
    rows
      .select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
      // v = 0 → the dedicated zero bucket −1 (count conservation: n must
      // equal input rows for a nonnegative measure, not surviving rows);
      // v < 0 → a NAMED failure, not silent exclusion (CaseWhen branches
      // evaluate lazily, so clean data never touches raise_error)
      .select(
        when(col("v") < 0L, expr("raise_error('logHistogram: negative" +
          " value has no log bucket; shift the measure nonnegative at" +
          " the call site if negatives matter')").cast("long"))
          .when(col("v") === 0L, lit(-1L))
          .otherwise(expr(s"(length(bin(v)) - 1) * $k" +
            s" + ((v - shiftleft(1L, length(bin(v)) - 1)) * $k)" +
            " div shiftleft(1L, length(bin(v)) - 1)"))
          .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
  }

  /** [[logHistQuantiles]] over a pre-built (possibly merged)
    * `(bucket, c)` histogram relation. Columns bind by NAME, and the
    * relation must carry ONE row per bucket (after a merge, re-aggregate
    * with groupBy(bucket).sum the way x139b does) — duplicate bucket
    * rows would make the cumulative pass order-dependent across the
    * tie. */
  def logHistQuantilesFromHistogram(hist: DataFrame, k: Int,
      quantiles: Seq[Double]): DataFrame = {
    require(k >= 2, s"need k >= 2 sub-buckets, got $k")
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1]: $quantiles")
    val spark = hist.sparkSession
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(hist.agg(sum(col("c")).as("n"))))
    val qs = spark.range(quantiles.size).select(
      col("id").cast("int").as("qi"),
      element_at(array(quantiles.map(q =>
        lit(math.round(q * 1000000).toLong)): _*),
        col("id").cast("int") + 1).as("q_micros"))
    // rank = ceil(q·n) in integers; the matched bucket is the min bucket
    // with cum >= rank; bucket bounds invert the bucket arithmetic.
    // Both comparison sides run in DECIMAL(38,0) (the aucExact r2
    // recipe): cum·10⁶ and q_micros·n overflow BIGINT past n ≈ 9.2·10¹²
    // rows, and this sketch is pitched precisely as the unbounded-corpus
    // scale path — a silent wrap would return a wrong quantile, not an
    // error
    broadcast(qs).join(cum,
        col("cum").cast("decimal(38,0)") * 1000000L >=
          col("q_micros").cast("decimal(38,0)") * col("n"))
      .groupBy(col("qi"), col("q_micros"), col("n"))
      .agg(min(col("bucket")).as("bucket"))
      .select(col("q_micros"), col("n"), col("bucket"),
        // exact bucket→value inversion: v is in bucket (oct, sub) iff
        // sub·2^oct ≤ (v − 2^oct)·k < (sub+1)·2^oct, so
        // lo = 2^oct + ⌈sub·2^oct/k⌉, hi = 2^oct + ⌈(sub+1)·2^oct/k⌉ − 1
        // (multiply BEFORE the div — dividing 2^oct by k first collapses
        // every small-octave bucket onto the octave base); the zero
        // bucket −1 inverts to [0, 0]
        when(col("bucket") < 0, lit(0L)).otherwise(
          expr(s"shiftleft(1L, CAST(bucket div $k AS INT))" +
            s" + ((bucket % $k) * shiftleft(1L, CAST(bucket div $k AS INT))" +
            s" + $k - 1) div $k")).as("value_lo"),
        when(col("bucket") < 0, lit(0L)).otherwise(
          expr(s"shiftleft(1L, CAST(bucket div $k AS INT))" +
            s" + (((bucket % $k) + 1) * shiftleft(1L, CAST(bucket div $k AS INT))" +
            s" + $k - 1) div $k - 1")).as("value_hi"))
      .orderBy(col("q_micros"))
  }

  /** `valueCol` as an exact LONG, with a NAMED in-plan error when the
    * cast would truncate — a continuous double score in [0, 1] collapses
    * to 0 under a silent CAST AS LONG and every group shrinks to a
    * meaningless statistic. Callers with continuous measures
    * micro-quantize at the call site (CAST(round(v * 1e6) AS BIGINT),
    * the tableProfile/aucBucketed recipe). The double round-trip
    * comparison is exact below 2⁵³; above that, both sides round to the
    * same double and integral-grain longs still pass. */
  private def integralLong(valueCol: String, opName: String): Column =
    when(col(valueCol).cast("long").cast("double") =!=
        col(valueCol).cast("double"),
      expr(s"raise_error('$opName: non-integral value column would be" +
        " truncated by CAST AS LONG; micro-quantize at the call site" +
        " (CAST(round(v * 1e6) AS BIGINT))')").cast("long"))
      .otherwise(col(valueCol).cast("long"))

  /** Per-group exact ORDER STATISTICS over the distinct-value relation:
    * for each requested (1-indexed) rank expression, the smallest value
    * whose at-or-below count reaches it. The shared core of
    * [[conformalThreshold]] and [[winsorizedStats]] — per-(group, value)
    * counts are one map-side-combined aggregation, the cumulative pass
    * runs over DISTINCT values per group (value cardinality, not rows),
    * and selection is a tiny filtered argmin. Returns
    * (grp, n, rank, value). `ranks` maps a label to a function of n
    * (e.g. p05 → ⌈0.05·n⌉) evaluated as integer column arithmetic. */
  private def groupOrderStats(rows: DataFrame, groupCol: String,
      valueCol: String, ranks: Seq[(String, Column => Column)],
      opName: String): DataFrame = {
    val base = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), integralLong(valueCol, opName).as("v"))
    val counts = base.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
      .orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // eager-checkpoint the cumulative relation and the group sizes:
    // every requested rank below re-reads them, and without this the
    // corpus scan + distinct aggregation + window re-execute once PER
    // rank — 9x for qqShift's deciles (the r15 verdict's slowest-query
    // finding, 4.65 s → the distinct pass runs once). Both are value/
    // group cardinality, not rows — bounded and cheap to materialize;
    // the (tiny) broadcast join itself stays outside so the per-branch
    // plan shape (broadcast bounds) is unchanged.
    val cum = counts.withColumn("cum", sum(col("c")).over(w))
      .localCheckpoint(true)
    // group sizes derive from the checkpointed value relation (n =
    // Σc per group) — not from a second corpus scan
    val ns = cum.groupBy(col("grp")).agg(sum(col("c")).as("n"))
    val withN = cum.join(broadcast(ns), Seq("grp"))
    // ALL ranks in one aggregation pass (min over the values at-or-
    // above each rank's threshold), then stack back to the row-per-
    // (group, rank) shape — 9 deciles used to be 9 filter+agg branches
    // (9 jobs) over the relation; a rank nobody reaches yields NULL
    // and is filtered, preserving the row-absence contract
    // conformalThreshold's too-small-group LEFT join depends on
    val aggCols = ranks.zipWithIndex.map { case ((_, rankOf), i) =>
      min(when(col("cum") >= rankOf(col("n")), col("v"))).as(s"__v$i") }
    val wide = withN.groupBy(col("grp"), col("n"))
      .agg(aggCols.head, aggCols.tail: _*)
    val stackSql = ranks.zipWithIndex
      .map { case ((label, _), i) => s"'$label', __v$i" }
      .mkString(s"stack(${ranks.size}, ", ", ", ") AS (stat, value)")
    wide.selectExpr("grp", "n", stackSql)
      .filter(col("value").isNotNull)
      .select(col("grp"), col("n"), col("stat"), col("value"))
  }

  /** Split-conformal calibration threshold per group: with `n`
    * calibration scores and miscoverage α, the threshold is the
    * ⌈(1−α)(n+1)⌉-th smallest score — the finite-sample-correct
    * quantile that guarantees ≥ 1−α coverage on exchangeable future
    * points (the gate a selective filter needs BEFORE it promises "we
    * keep 90% of good docs"). Groups where ⌈(1−α)(n+1)⌉ > n emit a NULL
    * threshold (n too small for the guarantee at this α — the honest
    * answer, not max(score)). α is taken in integer per-mille to keep
    * the rank arithmetic exact: rank = ⌈keepPerMille·(n+1)/1000⌉.
    *
    * Scale shape: [[groupOrderStats]] — distinct-value cumulative pass
    * per group, never a per-group sort of raw rows. */
  def conformalThreshold(rows: DataFrame, groupCol: String,
      scoreCol: String, keepPerMille: Int): DataFrame = {
    require(keepPerMille >= 1 && keepPerMille <= 999,
      s"keepPerMille must be in [1, 999], got $keepPerMille")
    // ⌈(n+1)·kpm/1000⌉ = (a + 999) div 1000 — the double is exact while
    // (n+1)·kpm < 2^53, i.e. n ≲ 9·10¹² calibration rows per group
    def rank(n: Column): Column =
      floor(((n + 1) * keepPerMille + 999L) / 1000.0).cast("long")
    val base = rows
      .filter(col(groupCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(groupCol).as("grp"), col(scoreCol).cast("long").as("v"))
    val ns = base.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    // groups where rank > n have NO order statistic (the guarantee needs
    // n+1 effective slots) — the LEFT join keeps them with NULL instead
    // of dropping them, because "this group is too small to calibrate"
    // is the audit's most important row
    val stats = groupOrderStats(rows, groupCol, scoreCol,
      Seq("conformal" -> rank), "conformalThreshold")
      .select(col("grp"), col("value"))
    ns.join(broadcast(stats), Seq("grp"), "left")
      .select(col("grp"), col("n"), rank(col("n")).as("rank"),
        when(rank(col("n")) > col("n"), lit(null).cast("long"))
          .otherwise(col("value")).as("threshold"))
      .orderBy(col("grp"))
  }

  /** Per-group WINSORIZED statistics: values clipped at the exact
    * discrete p05/p95 order statistics (actual data values, ranks
    * ⌈0.05·n⌉ and ⌈0.95·n⌉ — no interpolation, so everything stays in
    * exact integers), with the clip counts and the winsorized mean in
    * truncated micros. The robust location estimate for a heavy-tailed
    * quality signal — a handful of 10 MB documents should not own the
    * corpus mean the way they own the raw average; winsorizing prices
    * the bulk, [[robustOutliers]] names the tail. Output:
    * (grp, n, lo, hi, n_clip_lo, n_clip_hi, wmean_micros).
    *
    * Scale shape: [[groupOrderStats]] for the two bounds (broadcast
    * back), then one row-local clamp + one aggregation — raw rows are
    * never sorted. */
  def winsorizedStats(rows: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    // ⌈0.05·n⌉ and ⌈0.95·n⌉ via (a + 19) div 20 — exact while
    // 19·n < 2^53 (n ≲ 4·10¹¹ rows per group)
    def rankLo(n: Column): Column =
      floor((n + 19L) / 20.0).cast("long")
    def rankHi(n: Column): Column =
      floor((n * 19L + 19L) / 20.0).cast("long")
    val stats = groupOrderStats(rows, groupCol, valueCol,
      Seq("lo" -> rankLo, "hi" -> rankHi), "winsorizedStats")
    val bounds = stats.groupBy(col("grp"))
      .agg(max(when(col("stat") === "lo", col("value"))).as("lo"),
        max(when(col("stat") === "hi", col("value"))).as("hi"))
    rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"),
        integralLong(valueCol, "winsorizedStats").as("v"))
      .join(broadcast(bounds), Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(greatest(col("lo"), least(col("hi"), col("v")))).as("wsum"))
      .select(col("grp"), col("n"), col("lo"), col("hi"),
        col("n_clip_lo"), col("n_clip_hi"),
        expr("(1000000 * wsum) div n").as("wmean_micros"))
      .orderBy(col("grp"))
  }

  /** Per-group EFFECTIVE SAMPLE SIZE and importance-weight diagnostics:
    * Kish's ESS = (Σw)²/Σw² — the number of equally-weighted rows a
    * weighted sample is actually worth. THE health check on any
    * importance-weighted corpus (DSIR weights from [[dsirLogRatios]],
    * mixture weights from [[mixByTokenBudget]], inverse-propensity
    * weights): a 10⁹-row shard whose ESS is 10³ trains like a thousand
    * documents wearing a billion-row cost, and no loss curve will say
    * why. Output per group: n, ess_milli (ESS in thousandths),
    * ess_fraction_micros (ESS/n), max_share_micros (largest single
    * row's share of the group's weight — the "one doc owns the budget"
    * flag), n_zero_share (rows whose share truncated to zero at the
    * 10⁻⁷ grain — an honesty column, not an error).
    *
    * Exactness: ESS is scale-invariant, so weights are normalized
    * twice in integer space — milli-quantized (round(w·10³), so any
    * raw weight ≤ 9·10⁸ is exact), then expressed per-row as a share
    * of the group maximum at 10⁻⁷ grain and of the group total at
    * 10⁻⁷ grain. Every sum stays under 2⁶³ for groups ≤ ~9·10¹¹ rows
    * and the two truncations are deterministic, so the oracle replays
    * the arithmetic exactly; shares below 10⁻⁷ of the group mass
    * truncate to zero (counted in n_zero_share) — ESS then reads the
    * effective count among rows carrying ≥ 10⁻⁷ of the mass, a
    * conservative reading.
    *
    * Scale shape: two map-side-combined aggregations on the group key
    * with the tiny per-group bounds relation broadcast back between
    * them; no sort, no window over raw rows. */
  def essWeights(rows: DataFrame, groupCol: String,
      weightCol: String): DataFrame = {
    val base = rows
      .filter(col(groupCol).isNotNull && col(weightCol).isNotNull)
      .select(col(groupCol).as("grp"),
        expr(s"CAST(round(CAST(`$weightCol` AS DOUBLE) * 1000, 0)" +
          " AS BIGINT)").as("wm"))
      .select(col("grp"),
        when(col("wm") < 0 || col("wm") > 900000000000L,
          expr("raise_error('essWeights: weight outside [0, 9e8] — " +
            "rescale at the call site (ESS is scale-invariant)')")
            .cast("long"))
          .otherwise(col("wm")).as("wm"))
    val bounds = base.groupBy(col("grp"))
      .agg(max(col("wm")).as("wmax"))
    // two-stage normalization keeps every product and sum in BIGINT at
    // any group size: v1 = share of the group MAX at 1e-7 grain
    // (≤ 10⁷), then v = share of the group TOTAL of v1 at 1e-7 grain
    val shares = base.join(broadcast(bounds), Seq("grp"))
      .select(col("grp"),
        when(col("wmax") === 0, lit(0L))
          .otherwise(expr("(10000000 * wm) div wmax")).as("v1"))
    val sums = shares.groupBy(col("grp"))
      .agg(sum(col("v1")).as("s1"))
    shares.join(broadcast(sums), Seq("grp"))
      .select(col("grp"),
        when(col("s1") === 0, lit(0L))
          .otherwise(expr("(10000000 * v1) div s1")).as("v"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("sv2"), max(col("v")).as("vmax"),
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_zero_share"))
      .select(col("grp"), col("n"),
        when(col("sv2") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000 * sv * sv) div sv2")).as("ess_milli"),
        when(col("sv2") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000 * ((1000 * sv * sv) div sv2)) div n"))
          .as("ess_fraction_micros"),
        expr("vmax div 10").as("max_share_micros"),
        col("n_zero_share"))
      .orderBy(col("grp"))
  }

  /** Murphy decomposition of the Brier score over binned forecasts:
    * reliability (how far each bin's mean forecast sits from its
    * realized event rate — calibration error, squared and
    * count-weighted), resolution (how far the bins' event rates spread
    * from the base rate — the forecast's actual discriminative power),
    * and uncertainty (base-rate variance, the floor no forecaster
    * beats). [[SamplingOps]]' x120 ECE reports |gap| per bin; this is
    * the SQUARED decomposition that separates "the scores are
    * miscalibrated" (reliability, fixable by remapping) from "the
    * scores don't discriminate" (low resolution, not fixable) — the
    * decision between recalibrating a quality classifier and
    * retraining it. Output: one row (n, n_pos, n_bins, brier_micros,
    * reliability_micros, resolution_micros, uncertainty_micros,
    * base_rate_micros).
    *
    * Exactness: scores are micro-quantized ([0, 10⁶], a named in-plan
    * error outside that range); every squared term is reduced to micro
    * grain by one deterministic `div 10⁶` before the count-weighted
    * sum, so all sums stay under 2⁶³ for inputs ≤ ~9·10¹² rows and the
    * oracle replays each truncation exactly. The identity
    * brier ≈ reliability − resolution + uncertainty holds to within-bin
    * variance plus micro-truncation — this reports the measured brier
    * independently rather than asserting the identity.
    *
    * Scale shape: one map-side-combined aggregation onto ≤ `bins`
    * keys; everything after runs on that tiny relation. */
  def brierDecomposition(rows: DataFrame, scoreCol: String,
      labelCol: String, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"need 2 <= bins <= 1000, got $bins")
    val base = rows
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(
        expr(s"CAST(round(CAST(`$scoreCol` AS DOUBLE) * 1000000, 0)" +
          " AS BIGINT)").as("p"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("o"))
      .select(
        when(col("p") < 0 || col("p") > 1000000L,
          expr("raise_error('brierDecomposition: score outside [0, 1]')")
            .cast("long")).otherwise(col("p")).as("p"),
        col("o"))
    val binned = base.select(
      least(lit(bins - 1L), expr(s"(p * $bins) div 1000000")).as("bin"),
      col("p"), col("o"),
      // per-row squared error reduced to micro grain immediately, so
      // the corpus sum is ≤ 10⁶·n
      expr("((p - 1000000 * o) * (p - 1000000 * o)) div 1000000")
        .as("sq"))
    val perBin = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("p")).as("sp"),
        sum(col("o")).as("so"), sum(col("sq")).as("sbr"))
    val tot = perBin.agg(sum(col("n_b")).as("n"), sum(col("so")).as("n_pos"),
      sum(col("sbr")).as("sbr_all"), count(lit(1)).as("n_bins"))
    perBin.crossJoin(broadcast(tot))
      .select(col("n"), col("n_pos"), col("n_bins"), col("sbr_all"),
        col("n_b"),
        expr("sp div n_b").as("pbar"),
        expr("(1000000 * so) div n_b").as("ebar"),
        expr("(1000000 * n_pos) div n").as("obar"))
      .select(col("n"), col("n_pos"), col("n_bins"), col("sbr_all"),
        col("obar"),
        (col("n_b") * expr(
          "((pbar - ebar) * (pbar - ebar)) div 1000000")).as("rel_term"),
        (col("n_b") * expr(
          "((ebar - obar) * (ebar - obar)) div 1000000")).as("res_term"))
      .groupBy(col("n"), col("n_pos"), col("n_bins"), col("sbr_all"),
        col("obar"))
      .agg(sum(col("rel_term")).as("rel_sum"),
        sum(col("res_term")).as("res_sum"))
      .select(col("n"), col("n_pos"), col("n_bins"),
        expr("sbr_all div n").as("brier_micros"),
        expr("rel_sum div n").as("reliability_micros"),
        expr("res_sum div n").as("resolution_micros"),
        expr("(obar * (1000000 - obar)) div 1000000")
          .as("uncertainty_micros"),
        col("obar").as("base_rate_micros"))
  }

  /** Kaplan–Meier risk table with right-censoring, plus the
    * Nelson–Aalen cumulative hazard: per (group, duration) the number
    * at risk, observed events, and censored exits, with
    * hazard_cum_micros = Σ_{t_i ≤ t} ⌊10⁶·d_i/n_i⌋ over event times
    * and survival ≈ e^(−H) in micros. Retention with honest
    * censoring: the x37-style retention curve treats "still active at
    * observation end" as "never returned"; this is the estimator that
    * doesn't — the difference between "80% churn by day 30" and "80%
    * of users we could OBSERVE to day 30 churned". Censored rows
    * (event = 0/false) leave the risk set without counting as events.
    *
    * Exactness: durations are exact integers ([[integralLong]] grain —
    * bucket to days/hours at the call site), each hazard term is one
    * deterministic integer division, and the cumulative sum runs over
    * distinct durations in a deterministic order, so everything
    * hash-checks; survival_micros additionally pays ONE exp() per
    * output row of the tiny distinct-durations relation, rounded once
    * (the x28d/x79 libm convention).
    *
    * Scale shape: one map-side-combined (group, duration) aggregation;
    * the cumulative windows run over DISTINCT durations per group
    * (value cardinality, not rows). */
  def kaplanMeier(rows: DataFrame, groupCol: String, durationCol: String,
      eventCol: String): DataFrame = {
    val base = rows
      .filter(col(groupCol).isNotNull && col(durationCol).isNotNull &&
        col(eventCol).isNotNull)
      .select(col(groupCol).as("grp"),
        integralLong(durationCol, "kaplanMeier").as("t"),
        when(col(eventCol).cast("boolean"), 1L).otherwise(0L).as("e"))
    val byT = base.groupBy(col("grp"), col("t"))
      .agg(sum(col("e")).as("d"), sum(lit(1L) - col("e")).as("cens"),
        count(lit(1)).as("m"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    // at risk at t = everyone who has not exited strictly before t
    val risked = byT
      .withColumn("n_total", sum(col("m")).over(wTot))
      .withColumn("exited_thru", sum(col("m")).over(wAll))
      .select(col("grp"), col("t"), col("d"), col("cens"),
        (col("n_total") - col("exited_thru") + col("m")).as("at_risk"),
        expr("(1000000 * d) div" +
          " (n_total - exited_thru + m)").as("haz_term"))
    risked
      .withColumn("hazard_cum_micros", sum(col("haz_term")).over(wAll))
      // risk-table convention: report event times only (censor-only
      // durations shaped the at_risk counts above and then drop out)
      .filter(col("d") > 0)
      .select(col("grp"), col("t"), col("at_risk"), col("d").as("d_events"),
        col("cens").as("n_censored"), col("hazard_cum_micros"),
        expr("CAST(round(exp(-CAST(hazard_cum_micros AS DOUBLE) / 1e6)" +
          " * 1000000, 0) AS BIGINT)").as("survival_micros"))
      .orderBy(col("grp"), col("t"))
  }

  /** Frequent item PAIRS with support, confidence, and lift — Apriori
    * level 2 over (basket, item) relations: items below `minSupport`
    * baskets never reach the pair join (the Apriori pruning that makes
    * this linear-ish instead of |items|²), surviving pairs are counted
    * by one within-basket self-equi-join, and each reported pair
    * carries conf(a→b), conf(b→a), and lift in truncated micros.
    * "Users who do X also do Y" / co-occurring labels / co-crawled
    * domains — the transaction-grain co-occurrence mining next to
    * x79's PMI (token grain, information units; this is support
    * grain, probability units). Higher-order itemsets iterate the
    * same prune-join-count step on the pair relation.
    *
    * Exactness: supports are exact BIGINT counts; lift is computed as
    * two chained truncated divisions ⌊⌊10⁶·s_ab/s_a⌋·N/s_b⌋ so every
    * intermediate fits BIGINT at any corpus size (a direct
    * 10⁶·s_ab·N/(s_a·s_b) overflows past s_a·s_b > 9·10¹⁸); both
    * engines replay the same truncation order.
    *
    * Scale shape: distinct (basket, item) is one map-side-combined
    * dedup; frequent singletons broadcast into a semi-filter; the pair
    * join is an equi-join on basket whose fan-out is bounded by
    * per-basket FREQUENT-item count (salt mega-baskets upstream if a
    * basket can hold thousands of frequent items). */
  def frequentItemPairs(rows: DataFrame, basketCol: String,
      itemCol: String, minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"need minSupport >= 1, got $minSupport")
    // the deduped (basket, item) relation feeds four plan branches
    // (singleton supports, basket count, both pair-join sides) — EAGER
    // localCheckpoint so the raw input is scanned once AND nothing
    // leaks: a bare persist here accumulated cached relations across
    // calls in a long-lived session (no unpersist point exists — the
    // caller owns the returned lazy DataFrame); checkpoint blocks are
    // released when the RDD is GC'd
    val items = rows
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("b"), col(itemCol).cast("string").as("i"))
      .distinct()
      .localCheckpoint(true)
    val l1 = items.groupBy(col("i")).agg(count(lit(1)).as("s1"))
      .filter(col("s1") >= minSupport)
    val nBaskets = items.select(col("b")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val freq = items.join(broadcast(l1), Seq("i"))
    val pairs = freq.select(col("b"), col("i").as("i1"), col("s1").as("sa"))
      .join(freq.select(col("b"), col("i").as("i2"), col("s1").as("sb")),
        Seq("b"))
      .filter(col("i1") < col("i2"))
      .groupBy(col("i1"), col("i2"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("s_ab"))
      .filter(col("s_ab") >= minSupport)
    pairs.crossJoin(broadcast(nBaskets))
      .select(col("i1"), col("i2"), col("s_ab"),
        col("sa").as("s_i1"), col("sb").as("s_i2"), col("n_baskets"),
        expr("(1000000 * s_ab) div sa").as("conf_1to2_micros"),
        expr("(1000000 * s_ab) div sb").as("conf_2to1_micros"),
        expr("(((1000000 * s_ab) div sa) * n_baskets) div sb")
          .as("lift_micros"))
      .orderBy(col("s_ab").desc, col("i1"), col("i2"))
  }

  /** Set-operation cardinalities from two KMV sketches: union,
    * intersection, and difference NDV estimates plus the Jaccard
    * estimate, all from two k-row [[kmvMins]] summaries — "how much do
    * these two 100 TB corpora overlap" priced at sketch cost, never a
    * join of the full key sets. The standard KMV overlap estimator:
    * with K = the k smallest hashes of A ∪ B (which is exactly the
    * k smallest of mins(A) ∪ mins(B) — the x142b merge law), every
    * h ∈ K that belongs to A is necessarily in mins(A) (fewer than k
    * union hashes precede it, so fewer than k of A's do), so
    * membership tests against the two sketches are EXACT for K's rows:
    * ρ = |K ∩ A ∩ B| / |K| estimates Jaccard, and
    * intersection ≈ ρ·union. Output: one row (k, n_union_hashes,
    * n_both, union_est, inter_est, jaccard_micros, only_a_est,
    * only_b_est).
    *
    * Exactness: the sha-derived coordinate, the k-min reduction, and
    * the estimator are the integer arithmetic of [[kmvDistinct]];
    * ±~1/√k relative error on union, looser on small intersections
    * (ρ has k samples — don't read a 256-sketch overlap below ~1%).
    *
    * Scale shape: two [[kmvMins]] passes (each one map-side-combined
    * dedup + a ≤ n_partitions·k exchange), then every join below runs
    * on ≤ k-row relations, all broadcast. */
  def kmvOverlap(a: DataFrame, b: DataFrame, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 16, s"need k >= 16 for a usable estimate, got $k")
    // ONE tagged union so each side's kmvMins scan sits on exactly one
    // plan branch (a per-branch recompute would re-scan the full input
    // per use): dedup by hash carrying the membership flags, then the
    // k smallest WITH flags are K and its A/B memberships together
    val tagged = kmvMins(a, valueCol, k)
      .select(col("h"), lit(1L).as("in_a"), lit(0L).as("in_b"))
      .unionByName(kmvMins(b, valueCol, k)
        .select(col("h"), lit(0L).as("in_a"), lit(1L).as("in_b")))
      .groupBy(col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .orderBy(col("h")).limit(k)
    tagged
      .agg(count(lit(1)).as("n_union_hashes"), max(col("h")).as("kth_min"),
        sum(col("in_a") * col("in_b")).as("n_both"),
        sum(col("in_a") * (lit(1L) - col("in_b"))).as("n_only_a"),
        sum(col("in_b") * (lit(1L) - col("in_a"))).as("n_only_b"))
      .select(lit(k).as("k"), col("n_union_hashes"), col("n_both"),
        // kmvEstimateFromMins' estimator inline on the same row
        when(col("n_union_hashes") < k, col("n_union_hashes"))
          .otherwise(expr(s"(CAST(${k - 1} AS BIGINT) * 4503599627370496)" +
            " div kth_min")).as("union_est"),
        col("n_only_a"), col("n_only_b"))
      .filter(col("n_union_hashes") > 0) // both inputs empty → no row, not /0
      .select(col("k"), col("n_union_hashes"), col("n_both"),
        col("union_est"),
        expr("(n_both * union_est) div n_union_hashes").as("inter_est"),
        expr("(1000000 * n_both) div n_union_hashes").as("jaccard_micros"),
        expr("(n_only_a * union_est) div n_union_hashes").as("only_a_est"),
        expr("(n_only_b * union_est) div n_union_hashes").as("only_b_est"))
  }

  /** The four RE2-safe patterns behind [[piiScan]] — no backreferences,
    * no lookaround, so Java regex (Spark) and RE2 (the oracle's
    * DuckDB, and most production scrubbers) match identically. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "emails" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "card16" -> "\\b\\d{16}\\b",
    "phones" -> "\\+1 \\d{3}-\\d{3}-\\d{4}")

  /** PII pattern scan + redaction audit per group: match counts for
    * emails / IPv4 addresses / 16-digit card-shaped numbers / +1 phone
    * numbers ([[PiiPatterns]]), the count and fraction of documents
    * carrying ANY of them, and the total characters a redaction pass
    * (all four patterns replaced, in the fixed [[PiiPatterns]] order)
    * would remove — the scrub-before-train report a corpus ships with,
    * and the size estimate for the redaction job itself. Counts are
    * per-MATCH (a doc with three emails contributes three), doc flags
    * are per-doc. Output: (grp, n_docs, n_docs_with_pii,
    * pii_docs_micros, n_emails, n_ipv4, n_card16, n_phones,
    * redacted_chars).
    *
    * Scale shape: row-local regex work (codegen'd regexp_count /
    * regexp_replace — patterns compiled once per task), then one
    * map-side-combined aggregation on the group key. */
  def piiScan(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val Seq(email, ipv4, card, phone) = PiiPatterns.map(_._2)
    val redacted = PiiPatterns.foldLeft(col("t")) { case (c, (_, p)) =>
      regexp_replace(c, p, "")
    }
    docs.filter(col(groupCol).isNotNull && col(textCol).isNotNull)
      .select(col(groupCol).as("grp"), col(textCol).as("t"))
      .select(col("grp"),
        regexp_count(col("t"), lit(email)).cast("long").as("c_email"),
        regexp_count(col("t"), lit(ipv4)).cast("long").as("c_ip"),
        regexp_count(col("t"), lit(card)).cast("long").as("c_card"),
        regexp_count(col("t"), lit(phone)).cast("long").as("c_phone"),
        (length(col("t")) - length(redacted)).cast("long").as("cut"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c_email") + col("c_ip") + col("c_card") +
          col("c_phone") > 0, 1L).otherwise(0L)).as("n_docs_with_pii"),
        sum(col("c_email")).as("n_emails"), sum(col("c_ip")).as("n_ipv4"),
        sum(col("c_card")).as("n_card16"), sum(col("c_phone")).as("n_phones"),
        sum(col("cut")).as("redacted_chars"))
      .select(col("grp"), col("n_docs"), col("n_docs_with_pii"),
        expr("(1000000 * n_docs_with_pii) div n_docs").as("pii_docs_micros"),
        col("n_emails"), col("n_ipv4"), col("n_card16"), col("n_phones"),
        col("redacted_chars"))
      .orderBy(col("grp"))
  }

  /** Degree distribution + degree assortativity of an undirected pair
    * graph (near-dup pairs, link graphs): one row per distinct degree
    * with its node count, and — broadcast on every row — the node/edge
    * totals, max degree, and the degree-assortativity Pearson r as
    * (sign, r² micros), the [[dailyAutocorr]] convention that avoids a
    * portable sqrt. The STRUCTURAL read of the dup graph x71/x72 rank
    * node-by-node: positive assortativity = hubs duplicate hubs
    * (template families quoting each other), strongly negative = a few
    * boilerplate hubs touching everything — the shape that tells you
    * whether killing the top-degree docs collapses the graph. Pearson
    * runs over the 2·E directed endpoint pairs, exact DECIMAL(38,0)
    * sums.
    *
    * Scale shape: one degree aggregation, two equi-joins attaching
    * endpoint degrees to edges, one scalar reduce; the histogram and
    * the summary are tiny relations. */
  def dupGraphStats(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val edges = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("u"), col(bCol).as("v"))
    // the node-degree relation feeds FOUR branches (the histogram, both
    // endpoint-degree attaches, and the totals row) — eager
    // localCheckpoint (the fleissKappa discipline) materializes it once
    // at node grain; unchecked, each branch re-derived it from the pair
    // relation (the r17 before-plan printed 426 Exchange nodes from the
    // four-way duplication of this subtree)
    val deg = edges.select(col("u").as("id"))
      .unionAll(edges.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val hist = deg.groupBy(col("deg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val withDeg = edges
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    val ends = withDeg.select(col("du").as("x"), col("dv").as("z"))
      .unionAll(withDeg.select(col("dv").as("x"), col("du").as("z")))
      .select(col("x").cast("decimal(38,0)").as("x"),
        col("z").cast("decimal(38,0)").as("z"))
    val summary = ends
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("z")).as("sz"), sum(col("x") * col("z")).as("sxz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("z") * col("z")).as("szz"))
      .select(col("m"),
        (col("m").cast("decimal(38,0)") * col("sxz") - col("sx") * col("sz"))
          .as("num"),
        (col("m").cast("decimal(38,0)") * col("sxx") - col("sx") * col("sx"))
          .as("den1"),
        (col("m").cast("decimal(38,0)") * col("szz") - col("sz") * col("sz"))
          .as("den2"))
      // m div 2 keeps the edge count integral end to end (m is an exact
      // BIGINT row count; / would detour through floating point, exact
      // only while 2·E < 2^53) — mirrors the oracle's m // 2
      .select(expr("m div 2").as("n_edges"),
        when(col("num") > 0, 1).when(col("num") < 0, -1).otherwise(0)
          .as("assort_sign"),
        when(col("m") < 6 || col("den1") === 0 || col("den2") === 0,
          lit(null))
          .otherwise(expr(
            "CAST(floor(1000000.0 * CAST(num AS DOUBLE) * CAST(num AS" +
              " DOUBLE) / (CAST(den1 AS DOUBLE) * CAST(den2 AS DOUBLE)))" +
              " AS BIGINT)"))
          .as("assort_sq_micros"))
    val totals = deg.agg(count(lit(1)).as("n_nodes_total"),
      max(col("deg")).as("max_degree"))
    hist.crossJoin(broadcast(totals)).crossJoin(broadcast(summary))
      .orderBy(col("degree"))
  }

  /** Information gain of a categorical feature about a categorical
    * label — H(Y) − H(Y|X) in micro-nats, plus H(X) and the gain
    * RATIO (IG normalized by feature entropy, the C4.5 correction that
    * stops high-cardinality features winning for free). x77's χ² says
    * whether source and label are dependent AT ALL; this prices the
    * dependence in nats — "how much does knowing the source tell you
    * about the language" as a number a curation report can rank
    * features by. Every entropy term is rounded ONCE per type /
    * (feature, label) cell (the x28j/x128 libm convention), all counts
    * exact.
    *
    * Scale shape: three map-side-combined aggregations (label, feature,
    * cell) — the entropy sums run over value-cardinality relations,
    * never rows; the three 1-row summaries broadcast into one output
    * row. */
  def informationGain(rows: DataFrame, featureCol: String,
      labelCol: String): DataFrame = {
    val base = rows
      .filter(col(featureCol).isNotNull && col(labelCol).isNotNull)
      .select(col(featureCol).cast("string").as("f"),
        col(labelCol).cast("string").as("y"))
    def entTerm(nc: Column, tot: Column): Column =
      expr(s"CAST(round(-(CAST(${nc} AS DOUBLE) / CAST(${tot} AS DOUBLE))" +
        s" * ln(CAST(${nc} AS DOUBLE) / CAST(${tot} AS DOUBLE))" +
        " * 1000000.0, 0) AS BIGINT)")
    val n = base.agg(count(lit(1)).as("n"))
    val hy = base.groupBy(col("y")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(n))
      .agg(count(lit(1)).as("n_labels"),
        sum(entTerm(col("c"), col("n"))).as("h_label_micronats"))
    val hx = base.groupBy(col("f")).agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(n))
      .agg(count(lit(1)).as("n_features"),
        sum(entTerm(col("c"), col("n"))).as("h_feature_micronats"))
    // H(Y|X) = −Σ_xy (n_xy/N)·ln(n_xy/n_x): each cell's term uses the
    // cell count against its FEATURE margin, weighted by corpus share
    val cells = base.groupBy(col("f"), col("y")).agg(count(lit(1)).as("cxy"))
    val margins = base.groupBy(col("f")).agg(count(lit(1)).as("cx"))
    val hcond = cells.join(broadcast(margins), Seq("f"))
      .crossJoin(broadcast(n))
      .agg(sum(expr("CAST(round(-(CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))" +
        " * ln(CAST(cxy AS DOUBLE) / CAST(cx AS DOUBLE)) * 1000000.0, 0)" +
        " AS BIGINT)")).as("h_cond_micronats"))
    n.crossJoin(broadcast(hy)).crossJoin(broadcast(hx))
      .crossJoin(broadcast(hcond))
      .select(col("n"), col("n_labels"), col("n_features"),
        col("h_label_micronats"), col("h_cond_micronats"),
        (col("h_label_micronats") - col("h_cond_micronats"))
          .as("info_gain_micronats"),
        col("h_feature_micronats"),
        // clamped at 0: IG is mathematically ≥ 0, but per-term
        // micro-rounding can land a few micro-nats negative, and
        // truncation-vs-floor diverges on negative dividends
        when(col("h_feature_micronats") <= 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * greatest(0, h_label_micronats -" +
            " h_cond_micronats)) div h_feature_micronats"))
          .as("gain_ratio_micros"))
  }

  /** ROLLING-window distinct count from mergeable per-day KMV
    * sketches: per day the k smallest distinct hashes, then each
    * output day unions the last `windowDays` days' summaries and
    * re-takes the k smallest — the k smallest of a union of per-day
    * k-smallest sets IS the k smallest of the union (the x142b law),
    * so the estimate equals a fresh sketch of the whole window.
    * "Rolling 7-day distinct users over 100 TB of events" priced at
    * days·k rows of state instead of a window-sized exact dedup per
    * day — the windowed form of what [[kmvOverlap]] does for set
    * algebra. Exact below k. Output per day: (day, n_days_in_window,
    * n_hashes, kth_min, ndv_est).
    *
    * Scale shape: one (day, hash) dedup with [[kmvMins]]-style
    * per-partition bounded pre-cut (a per-day k-heap in mapPartitions
    * — day count is bounded by calendar time), one day-keyed rank to
    * k, then the rolling union is an explode of `windowDays` offsets
    * over the days·k summary relation. */
  def kmvRollingDistinct(rows: DataFrame, tsCol: String, valueCol: String,
      k: Int, windowDays: Int): DataFrame = {
    require(k >= 16, s"need k >= 16 for a usable estimate, got $k")
    require(windowDays >= 1, s"need windowDays >= 1, got $windowDays")
    val spark = rows.sparkSession
    import spark.implicits._
    // day = FLOOR(epoch_millis / 86400000): `div` truncates toward
    // zero, so pre-1970 timestamps (negative millis) would land one day
    // late vs the oracle's flooring `//` — subtract 1 exactly when the
    // remainder is negative (Spark % follows the dividend's sign)
    val dayHash = rows
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(expr(s"(unix_millis(CAST(`$tsCol` AS TIMESTAMP))" +
        s" div 86400000L) - (CASE WHEN unix_millis(CAST(`$tsCol` AS" +
        " TIMESTAMP)) % 86400000L < 0 THEN 1 ELSE 0 END)").as("day"),
        expr(s"CAST(conv(substring(sha2(CAST(`$valueCol` AS STRING)," +
          " 256), 1, 13), 16, 10) AS BIGINT)").as("h"))
      .as[(Long, Long)]
    // per-partition per-day bounded k-heap (the kmvMins pre-cut keyed
    // by day): the exchange below carries ≤ n_partitions·days·k rows
    val pre = dayHash.mapPartitions { it =>
      val heaps = new java.util.HashMap[Long, java.util.TreeSet[java.lang.Long]]()
      it.foreach { case (day, h) =>
        var heap = heaps.get(day)
        if (heap == null) { heap = new java.util.TreeSet[java.lang.Long](); heaps.put(day, heap) }
        if (heap.size < k) heap.add(h)
        else if (h < heap.last) { heap.add(h); if (heap.size > k) heap.pollLast() }
      }
      import scala.jdk.CollectionConverters._
      heaps.entrySet().iterator().asScala.flatMap { e =>
        e.getValue.iterator().asScala.map(h => (e.getKey.longValue, h.longValue))
      }
    }.toDF("day", "h")
    val wDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day")).orderBy(col("h"))
    // the per-day summary is days·k rows and feeds three branches
    // (rolling mins, window-day counts, the observed-day clamp) —
    // EAGER localCheckpoint so the raw dedup is paid once and nothing
    // leaks across calls (a bare persist had no unpersist point;
    // checkpoint blocks release when the RDD is GC'd)
    val daily = pre.distinct()
      .withColumn("rn", row_number().over(wDay)).filter(col("rn") <= k)
      .select(col("day"), col("h"))
      .localCheckpoint(true)
    // each day's mins serve the windowDays output days [day, day+W),
    // clamped to OBSERVED days (a window anchored past the data's last
    // day is not a reportable statistic)
    val served = daily
      .select(col("day"), col("h"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select((col("day") + col("off")).as("out_day"), col("day"), col("h"))
      .join(broadcast(daily.select(col("day").as("out_day")).distinct()),
        Seq("out_day"), "left_semi")
    val wOut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("out_day")).orderBy(col("h"))
    served
      .select(col("out_day"), col("h")).distinct()
      .withColumn("rn", row_number().over(wOut)).filter(col("rn") <= k)
      .groupBy(col("out_day"))
      .agg(count(lit(1)).as("n_hashes"), max(col("h")).as("kth_min"))
      .join(served.groupBy(col("out_day"))
        .agg(countDistinct(col("day")).as("n_days_in_window")), Seq("out_day"))
      .select(col("out_day").as("day"), col("n_days_in_window"),
        col("n_hashes"), col("kth_min"),
        when(col("n_hashes") < k, col("n_hashes"))
          .otherwise(expr(s"(CAST(${k - 1} AS BIGINT) * 4503599627370496)" +
            " div kth_min")).as("ndv_est"))
      .orderBy(col("day"))
  }

  /** Population Stability Index between two slices of a continuous
    * measure — THE production-ML drift gauge beside x90's KS: scores
    * micro-quantize and bucket into `bins` equal-width bins over the
    * COMBINED observed range (the [[aucBucketed]] binning), each side's
    * bin shares get add-one smoothing (so an empty bin contributes a
    * finite penalty instead of ±∞), and
    * PSI = Σ (p−q)·ln(p/q), each term rounded ONCE per bin to
    * micro-nats (the x28j convention). PSI < 0.1 ⇒ stable,
    * 0.1–0.25 ⇒ drifting, > 0.25 ⇒ the distribution moved — the triage
    * thresholds monitoring dashboards quote. Output: one row per bin
    * (bin, n_a, n_b, p_micros, q_micros, term_micronats) with the
    * total PSI broadcast.
    *
    * Scale shape: one 2-value broadcast (lo, hi), one row-local bucket
    * projection per side, two ≤ bins aggregations, everything after on
    * the bins relation. */
  def psiDrift(a: DataFrame, b: DataFrame, valueCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"need 2 <= bins <= 1000, got $bins")
    def micro(df: DataFrame, side: String) = df
      .filter(col(s"`$valueCol`").isNotNull)
      .select(expr(s"CAST(round(CAST(`$valueCol` AS DOUBLE) * 1000000.0," +
        " 0) AS BIGINT)").as("m0"), lit(side).as("side"))
      // range guard (the essWeights/brierDecomposition convention):
      // keep |m| ≤ 4.5e15 so (m − lo) ≤ 9e15 and ·bins (≤ 1000) stays
      // inside BIGINT; a saturated non-ANSI cast (|v| > 9.2e12) also
      // lands above the bound, so the guard catches cast overflow too —
      // fail loudly instead of silently diverging from the ANSI oracle
      .select(
        when(abs(col("m0")) > 4500000000000000L,
          expr(s"raise_error('psiDrift: |value| > 4.5e9 — rescale at" +
            " the call site (PSI is scale-invariant)')").cast("long"))
          .otherwise(col("m0")).as("m"),
        col("side"))
    val both = micro(a, "a").unionByName(micro(b, "b"))
    val bounds = both.agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
    val counts = both.crossJoin(broadcast(bounds))
      .select(expr(s"((m - lo) * $bins) div (hi - lo + 1)").as("bin"),
        col("side"))
      .groupBy(col("bin"))
      .agg(sum(when(col("side") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val terms = counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        // add-one smoothed shares over (total + bins) — finite on
        // empty bins, exactly replayable
        expr(s"(1000000 * (n_a + 1)) div (ta + $bins)").as("p_micros"),
        expr(s"(1000000 * (n_b + 1)) div (tb + $bins)").as("q_micros"),
        expr(s"CAST(round(((CAST(n_a + 1 AS DOUBLE) / (ta + $bins))" +
          s" - (CAST(n_b + 1 AS DOUBLE) / (tb + $bins)))" +
          s" * ln((CAST(n_a + 1 AS DOUBLE) / (ta + $bins))" +
          s" / (CAST(n_b + 1 AS DOUBLE) / (tb + $bins)))" +
          " * 1000000.0, 0) AS BIGINT)").as("term_micronats"))
    terms.crossJoin(broadcast(
      terms.agg(sum(col("term_micronats")).as("psi_micronats"))))
      .orderBy(col("bin"))
  }

  /** Per-slice exact ROC-AUC with the worst/best slice broadcast — the
    * SLICE-level eval completing [[aucExact]] (global order quality)
    * and [[brierDecomposition]] (global calibration): does the quality
    * score rank WORSE on one source/language than another? The same
    * Mann–Whitney midrank identity, partitioned by slice — per-score
    * counts per slice, a slice-keyed cumulative pass over distinct
    * scores, DECIMAL(38,0) midrank sums. Single-class slices emit NULL
    * and stay out of the min/max. Output per slice: (slice, n_pos,
    * n_neg, auc_micros, min_auc_micros, max_auc_micros,
    * auc_gap_micros).
    *
    * Scale shape: one (slice, score) aggregation; cumulative windows
    * keyed by slice over DISTINCT scores (value cardinality); the
    * min/max summary is one tiny reduce broadcast back. */
  def aucBySlice(rows: DataFrame, sliceCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val base = rows
      .filter(col(sliceCol).isNotNull && col(s"`$scoreCol`").isNotNull &&
        col(labelCol).isNotNull)
      .select(col(sliceCol).as("g"), col(s"`$scoreCol`").as("s"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val perSlice = base.groupBy(col("g"), col("s"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
      .withColumn("cum", coalesce(sum(col("c")).over(w), lit(0L)))
      .select(col("g"),
        (col("p").cast("decimal(38,0)") *
          (lit(2L) * col("cum") + col("c") + lit(1L))).as("pr2"),
        col("c"), col("p"))
      .groupBy(col("g"))
      .agg(sum(col("pr2")).as("r2"), sum(col("p")).as("n_pos"),
        expr("sum(c) - sum(p)").as("n_neg"))
      .select(col("g").as("slice"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(expr(
            "CAST((1000000 * (r2 - CAST(n_pos AS DECIMAL(38,0)) *" +
              " (n_pos + 1))) div (2 * CAST(n_pos AS DECIMAL(38,0)) *" +
              " n_neg) AS BIGINT)"))
          .as("auc_micros"))
    perSlice.crossJoin(broadcast(perSlice
      .agg(min(col("auc_micros")).as("min_auc_micros"),
        max(col("auc_micros")).as("max_auc_micros"))))
      .select(col("slice"), col("n_pos"), col("n_neg"), col("auc_micros"),
        col("min_auc_micros"), col("max_auc_micros"),
        (col("max_auc_micros") - col("min_auc_micros"))
          .as("auc_gap_micros"))
      .orderBy(col("slice"))
  }

  /** Per-group WEIGHTED exact quantiles: for each requested quantile,
    * the smallest value whose CUMULATIVE WEIGHT reaches ⌈q·W⌉ — the
    * mass-weighted order statistic every existing quantile op here
    * lacks (q08b/x139/x140/x141 weight rows equally). With weight =
    * token count this answers "the median TOKEN lives in a document of
    * length X" — by-mass length distributions diverge wildly from
    * by-doc ones on heavy-tailed corpora, and batch/pack planning
    * (x32/x65) budgets MASS, not documents. Exact integer end to end:
    * integral values and weights ([[integralLong]] grain — quantize at
    * the call site), rank_q = ⌈q_micros·W / 10⁶⌉ in integer
    * arithmetic. Output: (grp, q_micros, w_total, rank, value).
    *
    * Scale shape: one map-side-combined (group, value) weight-sum, a
    * keyed cumulative pass over DISTINCT values (value cardinality,
    * not rows), then a tiny per-(group, quantile) argmin. */
  def weightedQuantiles(rows: DataFrame, groupCol: String,
      valueCol: String, weightCol: String,
      quantiles: Seq[Double]): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1]: $quantiles")
    val qMicros = quantiles.map(q => math.round(q * 1000000).toLong)
    val base = rows
      .filter(col(groupCol).isNotNull && col(s"`$valueCol`").isNotNull &&
        col(s"`$weightCol`").isNotNull)
      .select(col(groupCol).as("grp"),
        integralLong(valueCol, "weightedQuantiles").as("v"),
        integralLong(weightCol, "weightedQuantiles").as("w"))
      .select(col("grp"), col("v"),
        when(col("w") < 0, expr("raise_error('weightedQuantiles: " +
          "negative weight')").cast("long")).otherwise(col("w")).as("w"))
    val perV = base.groupBy(col("grp"), col("v"))
      .agg(sum(col("w")).as("wc"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val cum = perV
      .withColumn("cw", sum(col("wc")).over(wCum))
      .withColumn("w_total", sum(col("wc")).over(wTot))
    val qs = qMicros.map(lit(_))
    cum
      .select(col("grp"), col("v"), col("cw"), col("w_total"),
        explode(array(qs: _*)).as("q_micros"))
      // rank = ⌈q·W⌉ — exact while q_micros·W < 2⁶³ (W ≲ 9·10¹² mass)
      .withColumn("rank",
        expr("(q_micros * w_total + 999999) div 1000000"))
      .filter(col("cw") >= col("rank") && col("w_total") > 0)
      .groupBy(col("grp"), col("q_micros"), col("w_total"), col("rank"))
      .agg(min(col("v")).as("value"))
      .select(col("grp"), col("q_micros"), col("w_total"), col("rank"),
        col("value"))
      .orderBy(col("grp"), col("q_micros"))
  }

  /** Weighted Cohen's kappa between TWO ordinal raters (quadratic
    * penalty w_ij = (i−j)²): chance-corrected agreement where
    * near-misses cost little and distant disagreements cost a lot —
    * x99's Fleiss κ handles many raters on NOMINAL labels, this is the
    * two-rater ORDINAL companion (two quality heuristics, a grader vs
    * a reference rubric). κ = 1 − n·Σ(w·O) / Σ(w·ra·rb), all counts
    * exact, the division once in DECIMAL(38,0) (the aucExact/x121
    * arithmetic — HUGEINT in the oracle). Both-constant inputs (no
    * chance disagreement) emit NULL. Output: one row (n, n_categories,
    * observed_penalty_sum, expected_penalty_num, kappa_micros).
    *
    * Scale shape: one (i, j) cell aggregation (≤ categories² keys) and
    * two margin aggregations — the cross of margins runs on
    * categories-sized relations, never rows. */
  def cohenKappaWeighted(rows: DataFrame, raterACol: String,
      raterBCol: String): DataFrame = {
    val base = rows
      .filter(col(raterACol).isNotNull && col(raterBCol).isNotNull)
      .select(integralLong(raterACol, "cohenKappaWeighted").as("i"),
        integralLong(raterBCol, "cohenKappaWeighted").as("j"))
    val cells = base.groupBy(col("i"), col("j")).agg(count(lit(1)).as("o"))
    val ra = base.groupBy(col("i")).agg(count(lit(1)).as("na"))
    val rb = base.groupBy(col("j")).agg(count(lit(1)).as("nb"))
    val n = base.agg(count(lit(1)).as("n"),
      countDistinct(col("i")).as("ca"), countDistinct(col("j")).as("cb"))
    val obs = cells
      .agg(sum(expr("(i - j) * (i - j) * o")).as("wo"))
    // categories-sized cross (≤ |categories|² rows) — broadcast-hinted
    // so it plans as a BNLJ Cross, never a CartesianProduct
    val exp_ = ra.crossJoin(broadcast(rb))
      .agg(sum(expr("CAST((i - j) * (i - j) AS DECIMAL(38,0))" +
        " * na * nb")).as("we"))
    n.crossJoin(broadcast(obs)).crossJoin(broadcast(exp_))
      .select(col("n"),
        greatest(col("ca"), col("cb")).as("n_categories"),
        col("wo").as("observed_penalty_sum"),
        col("we").cast("string").as("expected_penalty_num"),
        when(col("we") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(1000000 - (1000000 * CAST(n AS DECIMAL(38,0)) * wo)" +
              " div we AS BIGINT)")).as("kappa_micros"))
  }

  /** Mann–Whitney U rank-sum test between two groups of an integral
    * measure — the SIGNIFICANCE companion to [[aucExact]] (U and AUC are
    * the same statistic: AUC = U/(n_a·n_b)); "is the quality score
    * distribution for source A genuinely shifted vs source B, or is the
    * gap noise" is this, not a mean-difference t-test hostage to heavy
    * tails. Reports the doubled U statistic (doubling keeps midranks
    * integral), the tie-corrected normal-approximation z as (sign, z²
    * micros) — the x131/x152 no-portable-sqrt convention — and the AUC
    * link in micros.
    *
    * Exactness: midranks via the x121 identity (2·midrank = 2·cum_before
    * + c + 1) over per-value counts, every sum in DECIMAL(38,0); z² =
    * 3·D²·n·(n−1) / (n_a·n_b·(n³−n−T)) with D = 2U−n_a·n_b and tie term
    * T = Σ(c³−c), computed as two chained truncated divisions
    * ⌊⌊10⁶·D²/(n_a·n_b)⌋·3n(n−1)/(n³−n−T)⌋ so every intermediate fits
    * DECIMAL(38,0) to n ≈ 2·10⁸ rows; past that a raise_error guard
    * points at [[aucBucketed]] (`maxExactRows` is the guard's test
    * seam). One-group or empty input → NULL statistics.
    *
    * Scale shape: per-value counts are one map-side-combined
    * aggregation; the cumulative pass runs over DISTINCT values only
    * (value cardinality, not rows); then one scalar reduce. */
  def mannWhitneyU(rows: DataFrame, isACol: String, valueCol: String,
      maxExactRows: Long = 200000000L): DataFrame = {
    val base = rows
      .filter(col(isACol).isNotNull && col(valueCol).isNotNull)
      .select(when(col(isACol).cast("boolean"), 1L).otherwise(0L).as("ia"),
        integralLong(valueCol, "mannWhitneyU").as("v"))
    val byV = base.groupBy(col("v"))
      .agg(sum(col("ia")).as("a"), count(lit(1)).as("c"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // single-partition window over DISTINCT values only — value
    // cardinality, not rows (the aucExact caveat: bucket first if the
    // measure is continuous at corpus scale)
    val ranked = byV
      .withColumn("cum_before", coalesce(sum(col("c")).over(wOrd), lit(0L)))
    ranked
      .agg(sum(col("a")).as("n_a"), sum(col("c") - col("a")).as("n_b"),
        sum(expr("CAST(a AS DECIMAL(38,0)) * (2 * cum_before + c + 1)"))
          .as("r2a"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("tie_t"))
      .select(col("n_a"), col("n_b"), (col("n_a") + col("n_b")).as("n"),
        // 2U = 2R_a − 2·n_a(n_a+1)/2 = r2a − n_a(n_a+1)
        expr("r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)").as("u2"),
        col("tie_t"))
      .select(col("n_a"), col("n_b"),
        when(col("n") > maxExactRows, expr(
          "raise_error('mannWhitneyU: exact-arithmetic bound exceeded" +
            " (n > maxExactRows); pre-bucket with aucBucketed')"))
          .when(col("n_a") === 0 || col("n_b") === 0, lit(null))
          .otherwise(col("u2").cast("long")).as("u_doubled"),
        // AUC = U/(n_a n_b): micros via 5·10⁵·2U (one truncation)
        when(col("n_a") === 0 || col("n_b") === 0, lit(null))
          .otherwise(expr("CAST((500000 * u2) div (CAST(n_a AS" +
            " DECIMAL(38,0)) * n_b) AS BIGINT)")).as("auc_micros"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(null))
          .otherwise(expr("CAST(sign(u2 - CAST(n_a AS DECIMAL(38,0))" +
            " * n_b) AS BIGINT)")).as("z_sign"),
        // fully tied input (every row one value) has zero variance →
        // NULL, never a div-by-zero
        when(col("n_a") === 0 || col("n_b") === 0 ||
            expr("CAST(n AS DECIMAL(38,0)) * n * n - n - tie_t") === 0,
          lit(null))
          .otherwise(expr(
            "CAST(((1000000 * (u2 - CAST(n_a AS DECIMAL(38,0)) * n_b)" +
              " * (u2 - CAST(n_a AS DECIMAL(38,0)) * n_b))" +
              " div (CAST(n_a AS DECIMAL(38,0)) * n_b)" +
              " * (3 * CAST(n AS DECIMAL(38,0)) * (n - 1)))" +
              " div (CAST(n AS DECIMAL(38,0)) * n * n - n - tie_t)" +
              " AS BIGINT)")).as("z_sq_micros"))
  }

  /** Theil–Sen estimator — the MEDIAN of all pairwise slopes of an
    * integral (x, y) series: the robust trend read over daily volumes
    * where one ingestion-burst day drags least-squares arbitrarily but
    * moves a median of O(days²) slopes almost nothing (29.3% breakdown
    * point). "Is this corpus's daily intake actually declining" at the
    * day grain; the robust sibling of x131's autocorrelation and x132's
    * CUSUM on the same series.
    *
    * Exactness: one aggregated point per x (ties on x pre-summed by
    * `yAgg`), each pairwise slope sign-explicit truncated micros
    * sign·⌊10⁶·|Δy|/Δx⌋ (Spark div truncates, DuckDB // floors —
    * identical only on nonnegative operands), the median via the x31d
    * portable percentile pair (Spark `percentile` == DuckDB
    * `quantile_cont` on integer inputs) rounded once to 6 decimals.
    *
    * Scale shape: the pair join is x-grain² — DAYS², bounded by
    * calendar time (a decade of days = 3650² ≈ 13M pairs), never
    * rows²; one aggregation to points, one self-join, one percentile. */
  def theilSenSlope(rows: DataFrame, xCol: String, yCol: String): DataFrame = {
    // eager checkpoint (the x99 discipline): the x-grain point relation
    // feeds THREE branches (both pair-join sides + the n_points agg) —
    // un-materialized, the raw scan would run three times
    val pts = rows
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(integralLong(xCol, "theilSenSlope").as("x"))
      .agg(sum(integralLong(yCol, "theilSenSlope")).as("y"))
      .localCheckpoint(true)
    val slopes = pts.as("a")
      .join(pts.as("b"), col("b.x") > col("a.x"))
      .select(expr("CASE WHEN b.y >= a.y THEN 1 ELSE -1 END" +
        " * ((1000000 * abs(b.y - a.y)) div (b.x - a.x))")
        .as("slope_micros"))
    slopes.agg(count(lit(1)).as("n_pairs"),
        expr("round(percentile(slope_micros, 0.5), 6)")
          .as("slope_median_micros"))
      .crossJoin(broadcast(pts.agg(count(lit(1)).as("n_points"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"))))
      .select(col("n_points"), col("n_pairs"), col("x_min"), col("x_max"),
        col("slope_median_micros"))
  }

  /** McNemar's test for PAIRED model comparison — two classifiers'
    * predictions on the SAME examples: only the discordant pairs carry
    * evidence (b = A right where B is wrong, c = the reverse), and the
    * continuity-corrected statistic χ² = (|b−c|−1)²/(b+c) asks whether
    * the flip balance could be chance. THE eval-shelf read for "is the
    * new quality filter actually better than the old one on this
    * corpus" — a marginal accuracy diff on paired data double-counts
    * the examples both get right.
    *
    * Exactness: four exact BIGINT cell counts from one aggregation;
    * the statistic one truncated micro division with the correction
    * clamped at 0 (|b−c| ≤ 1 → numerator 0, not negative); b+c = 0
    * (perfect agreement) → NULL, never div-by-zero.
    *
    * Scale shape: one row-local correctness projection + one scalar
    * aggregation — no shuffle beyond the final reduce. */
  def mcNemar(rows: DataFrame, labelCol: String, predACol: String,
      predBCol: String): DataFrame = {
    rows
      .filter(col(labelCol).isNotNull && col(predACol).isNotNull &&
        col(predBCol).isNotNull)
      .select(
        (col(predACol).cast("boolean") === col(labelCol).cast("boolean"))
          .as("okA"),
        (col(predBCol).cast("boolean") === col(labelCol).cast("boolean"))
          .as("okB"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("okA") && col("okB"), 1L).otherwise(0L))
          .as("both_right"),
        sum(when(!col("okA") && !col("okB"), 1L).otherwise(0L))
          .as("both_wrong"),
        sum(when(col("okA") && !col("okB"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("okA") && col("okB"), 1L).otherwise(0L)).as("c"))
      .select(col("n"), col("both_right"), col("both_wrong"), col("b"),
        col("c"),
        when(col("b") + col("c") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "(1000000 * greatest(abs(b - c) - 1, 0L)" +
              " * greatest(abs(b - c) - 1, 0L)) div (b + c)"))
          .as("chi2_micros"))
  }

  /** Benjamini–Hochberg FDR control over per-slice proportion tests —
    * "which sources' positive rate genuinely differs from the pooled
    * rate, holding the FALSE DISCOVERY RATE at q": per slice the exact
    * one-sample two-sided z² against the pooled proportion, a
    * deterministic Chernoff-style p surrogate p̃ = exp(−z²/2) (monotone
    * in the true normal p, so the BH ORDERING — all that BH consumes —
    * is preserved; documented as a surrogate, not a calibrated p), then
    * the step-up rule: sort ascending, reject every slice at rank ≤ k*
    * where k* = max{k : p̃_(k) ≤ k·q/m}. Testing 50 sources at α=0.05
    * each expects 2.5 false alarms; this is the multiple-comparisons
    * fix dashboards skip and then chase ghosts.
    *
    * Exactness: z² = (k·N − n·K)²/(n·K·(N−K)) exact in DECIMAL(38,0)
    * micros (N ≲ 10⁸ before the guard trips); p̃ rounded once to micros
    * through one written-out IEEE sequence; thresholds k·q div m in
    * integer micros; k* via one max over the marked ranks.
    *
    * Scale shape: one map-side-combined per-slice aggregation; ranking
    * and the step-up scan run on the SLICES relation (bounded by slice
    * cardinality, not rows), single-partition window documented. */
  /** Shared core of [[bhFdr]] and [[multipleTestingStepdown]]: per-slice
    * exact z² surrogates against the pooled rate, the monotone Chernoff
    * p̃ = exp(−z²/2) (one IEEE sequence, rounded once), and the
    * deterministic ascending rank (ties by slice). Returns the
    * checkpointed slice-grain relation
    * (slice, n_s, k_s, m, z_sq_micros, p_tilde_micros, rank). */
  private def pTildeRanked(rows: DataFrame, sliceCol: String,
      flagCol: String, maxExactRows: Long, opName: String): DataFrame = {
    val base = rows
      .filter(col(sliceCol).isNotNull && col(flagCol).isNotNull)
      .select(col(sliceCol).cast("string").as("slice"),
        when(col(flagCol).cast("boolean"), 1L).otherwise(0L).as("f"))
    // eager checkpoint (the x99 discipline): the slice-grain relation
    // feeds the pooled totals AND the per-slice scoring — and `ranked`
    // below fans out again (k* scan + final join), so both bounded
    // relations materialize once instead of re-running the row scan 4×
    val per = base.groupBy(col("slice"))
      .agg(count(lit(1)).as("n_s"), sum(col("f")).as("k_s"))
      .localCheckpoint(true)
    val tot = per.agg(sum(col("n_s")).as("nn"), sum(col("k_s")).as("kk"),
      count(lit(1)).as("m"))
    val scored = per.crossJoin(broadcast(tot))
      .select(col("slice"), col("n_s"), col("k_s"), col("m"),
        when(col("nn") > maxExactRows, expr(
          s"raise_error('$opName: exact-arithmetic bound exceeded" +
            " (N > maxExactRows); pre-aggregate slices')"))
          // a degenerate pooled rate (all-positive / all-negative) has
          // zero variance — no test, every slice reports NULL/rank only
          .when(col("kk") === 0 || col("kk") === col("nn"),
            lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * (CAST(k_s AS DECIMAL(38,0)) * nn" +
              " - CAST(n_s AS DECIMAL(38,0)) * kk)" +
              " * (CAST(k_s AS DECIMAL(38,0)) * nn" +
              " - CAST(n_s AS DECIMAL(38,0)) * kk))" +
              " div (CAST(n_s AS DECIMAL(38,0)) * kk * (nn - kk))" +
              " AS BIGINT)")).as("z_sq_micros"))
      .select(col("slice"), col("n_s"), col("k_s"), col("m"),
        col("z_sq_micros"),
        // Chernoff surrogate, monotone in the true p — one IEEE
        // sequence, rounded once (the x28j libm convention)
        when(col("z_sq_micros").isNull, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(round(exp(-CAST(z_sq_micros AS DOUBLE) / 2e6)" +
              " * 1000000.0, 0) AS BIGINT)")).as("p_tilde_micros"))
    // slices-grain window (bounded by slice cardinality) — ascending
    // surrogate p, ties broken by slice for a deterministic rank
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("p_tilde_micros").asc_nulls_last, col("slice"))
    scored
      .withColumn("rank", row_number().over(wRank))
      .localCheckpoint(true)
  }

  def bhFdr(rows: DataFrame, sliceCol: String, flagCol: String,
      qMicros: Long, maxExactRows: Long = 100000000L): DataFrame = {
    require(qMicros >= 1 && qMicros <= 1000000,
      s"qMicros must be in [1, 1e6], got $qMicros")
    val ranked = pTildeRanked(rows, sliceCol, flagCol, maxExactRows,
        "bhFdr")
      .withColumn("bh_threshold_micros",
        expr(s"(rank * ${qMicros}L) div m"))
    val kStar = ranked
      .agg(coalesce(max(when(
        col("p_tilde_micros") <= col("bh_threshold_micros"),
        col("rank"))), lit(0)).as("k_star"))
    ranked.crossJoin(broadcast(kStar))
      .select(col("slice"), col("n_s"), col("k_s"), col("z_sq_micros"),
        col("p_tilde_micros"), col("rank"), col("bh_threshold_micros"),
        col("k_star"), (col("rank") <= col("k_star")).as("rejected"))
      .orderBy(col("rank"))
  }

  /** Log-rank test between TWO survival curves — "does cohort A churn
    * faster than cohort B, counting the still-alive honestly": at each
    * event time the observed group-A deaths are compared with the
    * hypergeometric expectation given the at-risk split, and
    * χ² = (Σ(O−E))²/ΣV asks whether the running imbalance is chance.
    * The significance companion to [[kaplanMeier]] exactly as
    * [[mannWhitneyU]] is to [[aucExact]] — the x147 risk table shows
    * two curves, this says whether they differ.
    *
    * Exactness: at-risk counts via the x147 total-minus-exited window
    * identity per group; E and V truncated micros once per event time
    * (V = d·n_a·(n−n_b... sic n−n_a)·(n−d)·10⁶ div (n²·(n−1)), exact in
    * DECIMAL(38,0) to n ≈ 10⁸ — a raise_error guard names the bound);
    * the final statistic one truncated division of exact micro sums.
    * Zero total variance (no event time mixes the groups) → NULL.
    *
    * Scale shape: one aggregation to (t) grain, two bounded windows
    * over DISTINCT times (time cardinality, not rows), scalar reduce. */
  def logRankTest(rows: DataFrame, isACol: String, durationCol: String,
      eventCol: String, maxExactRows: Long = 100000000L): DataFrame = {
    val base = rows
      .filter(col(isACol).isNotNull && col(durationCol).isNotNull &&
        col(eventCol).isNotNull)
      .select(when(col(isACol).cast("boolean"), 1L).otherwise(0L).as("ia"),
        integralLong(durationCol, "logRankTest").as("t"),
        when(col(eventCol).cast("boolean"), 1L).otherwise(0L).as("e"))
    val byT = base.groupBy(col("t"))
      .agg(sum(expr("ia * e")).as("d_a"), sum(col("e")).as("d"),
        sum(col("ia")).as("m_a"), count(lit(1)).as("m"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    // single-partition windows over DISTINCT event times only — time
    // cardinality (hours/days of calendar), not rows
    val risked = byT
      .withColumn("n_at", sum(col("m")).over(wTot) -
        sum(col("m")).over(wCum) + col("m"))
      .withColumn("na_at", sum(col("m_a")).over(wTot) -
        sum(col("m_a")).over(wCum) + col("m_a"))
      .filter(col("d") > 0)
    risked
      .agg(sum(col("d_a")).as("o_a"), sum(col("d")).as("events_total"),
        max(col("n_at")).as("n"), max(col("na_at")).as("n_a"),
        // E_a and V per event time, truncated micros once per time.
        // The product 10⁶·d·na_at wraps BIGINT past d·na_at ≈ 9.2·10¹²
        // (far under maxExactRows²), so the term runs in DECIMAL(38,0)
        // like var_micros; the sum is cast back to long below (≤ 10⁶·n,
        // safe to n = maxExactRows).
        sum(expr("(1000000 * CAST(d AS DECIMAL(38,0)) * na_at)" +
          " div n_at")).as("e_a_micros"),
        sum(expr("CASE WHEN n_at <= 1 THEN CAST(0 AS DECIMAL(38,0))" +
          " ELSE (1000000 * CAST(d AS DECIMAL(38,0)) * na_at" +
          " * (n_at - na_at) * (n_at - d))" +
          " div (CAST(n_at AS DECIMAL(38,0)) * n_at * (n_at - 1)) END"))
          .as("var_micros"))
      .withColumn("e_a_micros", col("e_a_micros").cast("long"))
      .select(col("n"), col("n_a"), (col("n") - col("n_a")).as("n_b"),
        col("events_total"), col("o_a"),
        col("e_a_micros"),
        (lit(1000000L) * col("o_a") - col("e_a_micros"))
          .as("oe_sum_micros"),
        col("var_micros").cast("long").as("var_sum_micros"),
        when(col("n") > maxExactRows, expr(
          "raise_error('logRankTest: exact-arithmetic bound exceeded" +
            " (n > maxExactRows); coarsen the duration grain')"))
          .when(col("var_micros") === 0, lit(null).cast("long"))
          // the square runs in DECIMAL(38,0) (S ≤ 10⁶·n → S² ≤ 10¹²·n²
          // would wrap BIGINT past n ≈ 3·10³)
          .otherwise(expr(
            "CAST((CAST(1000000 * o_a - e_a_micros AS DECIMAL(38,0))" +
              " * (1000000 * o_a - e_a_micros)) div var_micros" +
              " AS BIGINT)")).as("chi2_micros"))
  }

  /** Leakage-free GROUP K-fold assignment — every row of a group lands
    * in the SAME fold (the train/test hygiene x98's leakage audit
    * checks after the fact, built in up front), with folds balanced by
    * serpentine (snake) assignment over the size-ranked groups: rank
    * groups by weight descending, deal rank 1..k left-to-right, rank
    * k+1..2k right-to-left, … — the deterministic O(1)-state
    * approximation of greedy LPT balancing (within max-group-weight of
    * even). "Split by user, not by event" is this operator.
    *
    * Exactness: fold arithmetic is pure integer on the dense rank;
    * ties in weight break by group id, so the assignment replays
    * bit-for-bit in any engine.
    *
    * Scale shape: one map-side-combined per-group aggregation; ranking
    * runs on the GROUPS relation (group cardinality, not rows —
    * single-partition window documented); per-fold totals via one more
    * bounded aggregation, broadcast back. */
  def groupKFold(rows: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need k >= 2 folds, got $k")
    val per = rows
      .filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n_rows"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_rows").desc, col("grp"))
    val assigned = per
      .withColumn("rank", row_number().over(wRank))
      .withColumn("fold", expr(
        s"CAST(CASE WHEN ((rank - 1) div $k) % 2 = 0" +
          s" THEN (rank - 1) % $k" +
          s" ELSE ${k - 1} - ((rank - 1) % $k) END AS BIGINT)"))
      // eager checkpoint (the x99 discipline): the group-grain
      // assignment feeds the fold totals AND the final join
      .localCheckpoint(true)
    val foldTotals = assigned.groupBy(col("fold"))
      .agg(sum(col("n_rows")).as("fold_rows"))
    assigned.join(broadcast(foldTotals), Seq("fold"))
      .select(col("grp"), col("n_rows"), col("rank"), col("fold"),
        col("fold_rows"))
      .orderBy(col("rank"))
  }

  /** Krippendorff's α (nominal) — the agreement coefficient that prices
    * MISSING ratings correctly: Fleiss' κ (x99) wants a balanced
    * design; α is defined on whatever (item, rating) pairs exist,
    * weighting each item's disagreement by its pairable count.
    * α = 1 − D_o/D_e over the coincidence matrix: D_o = Σ_i Σ_c
    * n_ic(n_i−n_ic)/(n_i−1) (within-item disagreement), D_e =
    * (n²−Σ_c n_c²)/(n−1) (marginal chance). α = 1 for perfect
    * agreement, 0 at chance, negative for systematic disagreement —
    * the annotation-QA gate next to x99/x158.
    *
    * Exactness: per-item disagreement quantized once to micros (the
    * per-item n_i−1 denominator is where α differs from κ); the final
    * α one truncated DECIMAL(38,0) division, sign-explicit (D_o can
    * exceed D_e). Single-label corpora (D_e = 0) → NULL.
    *
    * Scale shape: one (item, label) cell aggregation, one item-grain
    * and one label-grain reduce, all-scalar finish — the x99 shape with
    * one extra bounded aggregation. */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val cells = ratings
      .filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .select(col(itemCol).as("item"), col(labelCol).as("label"))
      .groupBy(col("item"), col("label"))
      .agg(count(lit(1)).as("n_il"))
      // the multi-branch fan-out below — the x99 eager discipline
      .localCheckpoint(true)
    val perItem = cells.groupBy(col("item"))
      .agg(sum(col("n_il")).as("n_i"),
        sum(expr("n_il * n_il")).as("sq_i"))
      .filter(col("n_i") >= 2)
      // Σ_c n_ic(n_i − n_ic) = n_i² − Σ_c n_ic², micros once per item
      .select(col("item"), col("n_i"),
        expr("(1000000 * (n_i * n_i - sq_i)) div (n_i - 1)")
          .as("do_i_micros"))
      .localCheckpoint(true)
    val kept = cells.join(perItem.select(col("item")), Seq("item"))
    val marg = kept.groupBy(col("label"))
      .agg(sum(col("n_il")).as("n_c"))
      .agg(count(lit(1)).as("n_labels"),
        sum(col("n_c")).as("n"),
        sum(expr("CAST(n_c AS DECIMAL(38,0)) * n_c")).as("sq_c"))
    perItem
      .agg(count(lit(1)).as("n_items"), sum(col("do_i_micros"))
        .as("do_micros"))
      .crossJoin(broadcast(marg))
      .select(col("n_items"), col("n").as("n_pairable"), col("n_labels"),
        col("do_micros"),
        // α = 1 − D_o·(n−1)/(n²−Σn_c²), sign-explicit truncation
        // (D_o > D_e is legal: systematic disagreement)
        when(expr("CAST(n AS DECIMAL(38,0)) * n - sq_c") === 0,
          lit(null).cast("long"))
          .otherwise(lit(1000000L) -
            when(col("do_micros") >= 0, lit(1L)).otherwise(lit(-1L)) *
            expr("CAST((abs(CAST(do_micros AS DECIMAL(38,0))) * (n - 1))" +
              " div (CAST(n AS DECIMAL(38,0)) * n - sq_c) AS BIGINT)"))
          .as("alpha_micros"))
  }

  /** Jensen–Shannon divergence between two corpora's value
    * distributions — the SYMMETRIC, always-finite drift gauge next to
    * x64's KL (asymmetric, infinite on unseen values) and x155's PSI
    * (needs smoothing for the same reason): JSD = ½KL(p‖m) + ½KL(q‖m)
    * with m the midpoint, bounded in [0, ln 2], zero iff identical —
    * the pairwise corpus-distance a mixture planner can treat as a
    * metric (√JSD is one).
    *
    * Exactness: exact per-value counts each side (full outer join on
    * the value relation — a value absent on one side contributes only
    * the other side's ½q·ln 2 term, no smoothing needed); each
    * per-value term computed through one written-out IEEE sequence and
    * rounded once to micro-nats (the x28j convention). Output: one row
    * (n_a, n_b, n_values, jsd_micronats).
    *
    * Scale shape: two map-side-combined per-value aggregations, one
    * value-grain full-outer equi-join, one scalar reduce — value
    * cardinality, not rows, after the first aggregation. */
  def jsDivergence(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def counts(df: DataFrame, out: String) = df
      .filter(col(s"`$valueCol`").isNotNull)
      .groupBy(col(s"`$valueCol`").cast("string").as("v"))
      .agg(count(lit(1)).as(out))
    // eager checkpoint (the x99 discipline): the value-grain joined
    // relation feeds the totals AND the term pass — un-materialized,
    // both corpora would tokenize and aggregate twice. Storage is
    // VALUE cardinality (the vocabulary), not rows.
    val joined = counts(a, "ca").join(counts(b, "cb"), Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .localCheckpoint(true)
    val tot = joined.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    joined.crossJoin(broadcast(tot))
      .select(col("ca"), col("cb"), col("ta"), col("tb"),
        // one IEEE sequence per value, rounded once: p = ca/ta,
        // q = cb/tb, m = (p+q)/2; 0·ln(0/m) ≡ 0 by the CASE guards
        expr(
          "CAST(round((" +
            "CASE WHEN ca = 0 THEN 0.0 ELSE" +
            " 0.5 * (CAST(ca AS DOUBLE) / ta)" +
            " * ln((CAST(ca AS DOUBLE) / ta) /" +
            " ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb)" +
            " / 2.0)) END +" +
            "CASE WHEN cb = 0 THEN 0.0 ELSE" +
            " 0.5 * (CAST(cb AS DOUBLE) / tb)" +
            " * ln((CAST(cb AS DOUBLE) / tb) /" +
            " ((CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb)" +
            " / 2.0)) END) * 1000000.0, 0) AS BIGINT)")
          .as("term_micronats"))
      .agg(max(col("ta")).as("n_a"), max(col("tb")).as("n_b"),
        count(lit(1)).as("n_values"),
        sum(col("term_micronats")).as("jsd_micronats"))
  }

  /** Quantile normalization of a per-group score onto the POOLED
    * distribution — the cross-source calibration that makes "quality
    * 0.7 from crawl A" comparable to "quality 0.7 from crawl B" when
    * the two scorers drifted: each distinct (group, value) maps to its
    * within-group midrank percentile, the percentile snaps to a
    * 1/`gridSize` grid, and the grid level looks up the pooled
    * ceil-rank order statistic (the conformalThreshold arithmetic).
    * After this, one global threshold means the same thing in every
    * source.
    *
    * Exactness: midranks via the x121 identity per group; the grid
    * snap one truncated division; the pooled lookup exact ceil-rank
    * over the pooled distinct-value cumulative relation. Deterministic
    * end to end — no libm at all.
    *
    * Scale shape: per-(group, value) counts are map-side-combined;
    * cumulative passes run over DISTINCT values (per group and
    * pooled); the lookup joins the (gridSize+1)-row level relation to
    * the pooled cumulative relation, then equi-joins level → rows —
    * nothing quadratic in value cardinality. */
  def quantileNormalize(rows: DataFrame, groupCol: String,
      valueCol: String, gridSize: Int = 1000): DataFrame = {
    require(gridSize >= 10 && gridSize <= 100000,
      s"gridSize must be in [10, 1e5], got $gridSize")
    val base = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        integralLong(valueCol, "quantileNormalize").as("v"))
    // per-(group, value) counts — feeds the group cumulative AND the
    // pooled cumulative; eager checkpoint scans rows once
    val gv = base.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val wGrp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wGrpTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
    // within-group midrank percentile snapped to the grid: level =
    // ⌊grid·(2·cum_before + c)/(2·n_g)⌋ ∈ [0, grid]
    val leveled = gv
      .withColumn("cb", coalesce(sum(col("c")).over(wGrp), lit(0L)))
      .withColumn("ng", sum(col("c")).over(wGrpTot))
      .select(col("grp"), col("v"), col("c"),
        expr(s"($gridSize * (2 * cb + c)) div (2 * ng)").as("level"))
    // pooled distinct-value cumulative — single-partition window over
    // DISTINCT pooled values (value cardinality, not rows)
    val wPool = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pooled = gv.groupBy(col("v")).agg(sum(col("c")).as("pc"))
      .withColumn("cum", sum(col("pc")).over(wPool))
      .localCheckpoint(true)
    val nTotal = pooled.agg(max(col("cum")).as("n"))
    // grid levels → pooled ceil-rank order statistic: level l maps to
    // rank max(1, ⌈l·N/grid⌉); the min-value-at-or-past-rank argmin
    // runs on the (grid+1) × |pooled values ≥ rank| relation — the
    // pooled side prunes by the cum ≥ rank predicate
    val levels = nTotal
      .select(explode(sequence(lit(0), lit(gridSize))).as("level"),
        col("n"))
      .select(col("level"),
        greatest(lit(1L), expr(s"(level * n + ${gridSize - 1})" +
          s" div $gridSize")).as("rank"))
    val gridVals = pooled.join(broadcast(levels), col("cum") >= col("rank"))
      .groupBy(col("level")).agg(min(col("v")).as("pooled_v"))
    leveled.join(broadcast(gridVals), Seq("level"))
      .select(col("grp"), col("v").as("value"), col("c").as("n_rows"),
        col("level"), col("pooled_v").as("normalized_value"))
      .orderBy(col("grp"), col("value"))
  }

  /** Cramér's V — the [0,1]-normalized effect size of the x77 χ²
    * dependence test: χ² says source and language are NOT independent;
    * V says HOW FAR from independent on a scale where 0 = independent
    * and 1 = one determines the other, comparable across tables of any
    * size (χ² itself grows with n). Reported as V² in micros (the
    * x131/x152 no-portable-sqrt convention), alongside the exact χ²
    * micros and the bias-corrected V²− of Bergsma 2013 (the version
    * that does not inflate on sparse tables), clamped at 0.
    *
    * Exactness: each cell's χ² term (o·n − r·c)²/(n·r·c) truncated to
    * micros once per cell in DECIMAL(38,0) (exact to n ≈ 3·10⁸ —
    * raise_error past it); the two divisions to V² and V²− chained
    * truncations. Degenerate 1×k / k×1 tables → NULL.
    *
    * Scale shape: one cell aggregation (≤ r·c keys), two margin
    * aggregations broadcast back, a scalar finish. */
  def cramersV(rows: DataFrame, aCol: String, bCol: String,
      maxExactRows: Long = 300000000L): DataFrame = {
    val base = rows
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
    val cells = base.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint(true)
    val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("rn"))
    val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("cn"))
    val nn = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("r"), countDistinct(col("b")).as("k"))
    // χ² runs over the FULL r×k grid — an unobserved (a, b) pair still
    // contributes (0 − e)²/e; the margin cross (categories², broadcast)
    // restores the zero cells the observed-cell relation lacks
    val grid = ra.crossJoin(broadcast(cb))
      .join(cells, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("rn"), col("cn"),
        coalesce(col("o"), lit(0L)).as("o"))
    val chi = grid
      .crossJoin(broadcast(nn))
      .select(when(col("n") > maxExactRows, expr(
        "raise_error('cramersV: exact-arithmetic bound exceeded" +
          " (n > maxExactRows); pre-bucket the columns')"))
        .otherwise(expr(
          "CAST((1000000 * (CAST(o AS DECIMAL(38,0)) * n" +
            " - CAST(rn AS DECIMAL(38,0)) * cn)" +
            " * (CAST(o AS DECIMAL(38,0)) * n" +
            " - CAST(rn AS DECIMAL(38,0)) * cn))" +
            " div (CAST(n AS DECIMAL(38,0)) * rn * cn) AS BIGINT)"))
        .as("t"))
      .agg(sum(col("t")).as("chi2_micros"))
    nn.crossJoin(broadcast(chi))
      .select(col("n"), col("r").as("n_rows_cat"), col("k").as("n_cols_cat"),
        col("chi2_micros"),
        when(least(col("r"), col("k")) <= 1, lit(null).cast("long"))
          .otherwise(expr(
            "chi2_micros div (n * (least(r, k) - 1))")).as("v_sq_micros"),
        // Bergsma bias correction: φ²− = max(0, φ² − (r−1)(k−1)/(n−1)),
        // r− = r − (r−1)²/(n−1), k− likewise — all in micros, clamped.
        // A sparse table can drive the corrected denominator to ≤ 0;
        // that is NULL by an explicit guard (Spark's div-by-zero is
        // NULL where DuckDB's // raises — the dialect trap)
        when(least(col("r"), col("k")) <= 1 || col("n") <= 1 ||
            expr("least(r - ((r - 1) * (r - 1)) div (n - 1)," +
              " k - ((k - 1) * (k - 1)) div (n - 1))") <= 1,
          lit(null).cast("long"))
          .otherwise(expr(
            "greatest(0L, (chi2_micros div n)" +
              " - (1000000 * (r - 1) * (k - 1)) div (n - 1))" +
              " div (least(r - ((r - 1) * (r - 1)) div (n - 1)," +
              " k - ((k - 1) * (k - 1)) div (n - 1)) - 1)"))
          .as("v_sq_corrected_micros"))
  }

  /** Two-sample Cramér–von Mises statistic — the INTEGRATED-gap drift
    * test next to x90's KS (which reads only the single worst gap):
    * T = n·m/(n+m)² · Σ over pooled points of (F_a − F_b)², weighted
    * by pooled mass — sensitive to broad mid-distribution drift a KS
    * max can miss. The drift shelf's third leg beside KS (sup-norm)
    * and PSI (binned, smoothed).
    *
    * Exactness: per-value counts + one cumulative pass over DISTINCT
    * pooled values; each value's term c·(cumA·m − cumB·n)² exact in
    * DECIMAL(38,0), the final normalization two chained truncated
    * divisions — exact to n+m ≈ 2·10⁷ rows (raise_error past it;
    * pre-bucket to value grain first at corpus scale, which this
    * statistic permits: it reads only the ECDFs).
    *
    * Scale shape: one map-side-combined per-value aggregation, one
    * distinct-value cumulative window, one scalar reduce. */
  def cvmTwoSample(rows: DataFrame, isACol: String, valueCol: String,
      maxExactRows: Long = 20000000L): DataFrame = {
    val base = rows
      .filter(col(isACol).isNotNull && col(valueCol).isNotNull)
      .select(when(col(isACol).cast("boolean"), 1L).otherwise(0L).as("ia"),
        integralLong(valueCol, "cvmTwoSample").as("v"))
    val byV = base.groupBy(col("v"))
      .agg(sum(col("ia")).as("a"), count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byV
      .withColumn("ca", sum(col("a")).over(wCum))
      .withColumn("cc", sum(col("c")).over(wCum))
      .agg(sum(col("a")).as("n_a"), sum(col("c") - col("a")).as("n_b"),
        // Σ c·(cumA·m − cumB·n)² with cumB = cc − ca; n/m appear as
        // the final totals — inject them via the decomposition below:
        // everything is computable from per-value cumulative sums, so
        // carry the three exact DECIMAL sums and finish scalar
        sum(expr("CAST(c AS DECIMAL(38,0)) * ca * ca")).as("saa"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * ca * (cc - ca)")).as("sab"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (cc - ca) * (cc - ca)"))
          .as("sbb"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") + col("n_b") > maxExactRows, expr(
          "raise_error('cvmTwoSample: exact-arithmetic bound exceeded" +
            " (n > maxExactRows); pre-bucket the value column')"))
          .when(col("n_a") === 0 || col("n_b") === 0,
            lit(null).cast("long"))
          // T·1e6 = 1e6·(m²·Σc·ca² − 2nm·Σc·ca·cb + n²·Σc·cb²)
          //          / (nm(n+m)²), chained truncation
          .otherwise(expr(
            "CAST((1000000 * (CAST(n_b AS DECIMAL(38,0)) * n_b * saa" +
              " - 2 * CAST(n_a AS DECIMAL(38,0)) * n_b * sab" +
              " + CAST(n_a AS DECIMAL(38,0)) * n_a * sbb))" +
              " div (CAST(n_a AS DECIMAL(38,0)) * n_b" +
              " * (n_a + n_b) * (n_a + n_b)) AS BIGINT)"))
          .as("cvm_t_micros"))
  }

  /** Kendall's τ-b — rank correlation from exact concordant/discordant
    * pair counts over the (x, y) CELL GRID: the third rank-agreement
    * leg beside Spearman (x122, rank-linear) and AUC (x121,
    * binary-label) — τ reads "of all comparable pairs, how many order
    * the same way", the interpretation a filter-vs-filter comparison
    * wants. Tie-corrected (τ-b), reported as (sign, τ² micros) — the
    * no-portable-sqrt convention — plus the raw C/D/tie counts.
    *
    * Exactness: all counts from one cells² broadcast theta-join in
    * exact DECIMAL(38,0) (C and D count each unordered pair once via
    * the x1 < x2 orientation); τ² = (C−D)²·10⁶ / ((P−Tx)(P−Ty)) with
    * P = n(n−1)/2, two chained truncated divisions.
    *
    * Scale shape: rows reduce to ≤ |x-values|·|y-values| cells in one
    * aggregation; the pair join is CELLS², not rows² — bucket
    * continuous inputs first (deciles make it 100² = 10⁴ cell pairs).
    * The guard refuses > 4096 distinct cells by name. */
  def kendallTauB(rows: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = rows
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(integralLong(xCol, "kendallTauB").as("x"),
        integralLong(yCol, "kendallTauB").as("y"))
    val cells = base.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val guard = cells.agg(count(lit(1)).as("n_cells"))
      .select(when(col("n_cells") > 4096, expr(
        "raise_error('kendallTauB: > 4096 distinct (x, y) cells —" +
          " bucket the inputs (the pair join is cells-squared)')"))
        .otherwise(col("n_cells")).as("n_cells"))
    val pairs = cells.as("p")
      .join(broadcast(cells.as("q")),
        col("q.x") > col("p.x") ||
          (col("q.x") === col("p.x") && col("q.y") > col("p.y")))
      .select(col("p.c").as("c1"), col("q.c").as("c2"),
        when(col("q.x") > col("p.x") && col("q.y") > col("p.y"), 1)
          .when(col("q.x") > col("p.x") && col("q.y") < col("p.y"), -1)
          .otherwise(0).as("dir"))
      .agg(
        sum(when(col("dir") === 1,
          expr("CAST(c1 AS DECIMAL(38,0)) * c2")).otherwise(lit(0)))
          .as("conc"),
        sum(when(col("dir") === -1,
          expr("CAST(c1 AS DECIMAL(38,0)) * c2")).otherwise(lit(0)))
          .as("disc"))
    val margins = cells.groupBy(col("x"))
      .agg(sum(col("c")).as("m"))
      .agg(sum(expr("CAST(m AS DECIMAL(38,0)) * (m - 1) div 2"))
        .as("tie_x"))
      .crossJoin(broadcast(cells.groupBy(col("y"))
        .agg(sum(col("c")).as("m"))
        .agg(sum(expr("CAST(m AS DECIMAL(38,0)) * (m - 1) div 2"))
          .as("tie_y"))))
      .crossJoin(broadcast(cells.agg(sum(col("c")).as("n"))))
    pairs.crossJoin(broadcast(margins)).crossJoin(broadcast(guard))
      .select(col("n"), col("n_cells"),
        col("conc").cast("long").as("concordant"),
        col("disc").cast("long").as("discordant"),
        col("tie_x").cast("long").as("tie_pairs_x"),
        col("tie_y").cast("long").as("tie_pairs_y"),
        when(expr("(CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_x)" +
          " * (CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_y)") === 0,
          lit(null).cast("long"))
          .otherwise(expr("CAST(sign(conc - disc) AS BIGINT)"))
          .as("tau_sign"),
        when(expr("(CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_x)" +
          " * (CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_y)") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST(((1000000 * (conc - disc) * (conc - disc))" +
              " div (CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_x))" +
              " div (CAST(n AS DECIMAL(38,0)) * (n - 1) div 2 - tie_y)" +
              " AS BIGINT)")).as("tau_sq_micros"))
  }

  /** Water-filling token-budget allocation across sources — the mix
    * designer's primitive: give every source budget proportional to
    * its weight until its SUPPLY caps it, then redistribute the
    * remainder among the uncapped (the allocation that maximizes
    * weighted utilization under per-source caps). "60 B tokens across
    * 40 crawls, quality-weighted, no crawl above what it has" is this
    * operator; [[mixByTokenBudget]] then materializes the chosen
    * per-source rates.
    *
    * Exactness: sources sort by supply/weight in truncated micros
    * (ties by source id); the fill level λ at each candidate cut is
    * one truncated division over exact prefix sums; the chosen cut is
    * the first where the level no longer overfills the next source —
    * deterministic integer end to end. Un-allocated remainder (from
    * truncation and total-supply shortfall) is reported, never hidden.
    *
    * Scale shape: everything runs on the SOURCES relation (bounded by
    * source cardinality — single-partition window documented); callers
    * aggregate rows → (source, supply, weight) upstream. */
  def waterFill(sources: DataFrame, srcCol: String, supplyCol: String,
      weightCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val base = sources
      .filter(col(srcCol).isNotNull && col(supplyCol).isNotNull &&
        col(weightCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        integralLong(supplyCol, "waterFill").as("supply"),
        integralLong(weightCol, "waterFill").as("w"))
      .filter(col("supply") >= 0 && col("w") > 0)
    // sources-grain window (bounded by source cardinality): ascending
    // fill ratio = the order sources saturate in
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col("ratio_micros"), col("src"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = base
      .withColumn("ratio_micros", expr("(1000000 * supply) div w"))
      .withColumn("sup_before", coalesce(sum(col("supply")).over(wOrd), lit(0L)))
      .withColumn("w_before", coalesce(sum(col("w")).over(wOrd), lit(0L)))
      .localCheckpoint(true)
    val totals = ranked.agg(sum(col("w")).as("w_all"))
    // a source SATURATES iff the level computed over it and everyone
    // after it still overflows its own ratio: level_i = (B −
    // sup_before)·1e6 / (w_all − w_before) > ratio_i ⇒ capped. The
    // capped set is a prefix of the ratio order, and for uncapped rows
    // level_i ≤ λ with equality at the FIRST one — so λ = max(level)
    // over the uncapped rows (truncation is monotone, so the max
    // survives the micro quantization). A negative remaining budget
    // (possible within truncation slack of the cut) clamps to level
    // −1: Spark div truncates toward zero where DuckDB // floors, and
    // the clamp keeps the two engines identical there.
    val marked = ranked.crossJoin(broadcast(totals))
      .withColumn("level_micros",
        expr(s"CASE WHEN ${budget}L - sup_before < 0 THEN -1L" +
          s" ELSE (1000000 * (${budget}L - sup_before))" +
          " div (w_all - w_before) END"))
      .withColumn("capped", col("level_micros") > col("ratio_micros"))
      .localCheckpoint(true)
    val lambda = marked.filter(!col("capped"))
      .agg(max(col("level_micros")).as("lambda_micros"))
    marked.crossJoin(broadcast(lambda))
      .select(col("src"), col("supply"), col("w"), col("ratio_micros"),
        col("capped"), col("lambda_micros"),
        when(col("capped"), col("supply"))
          .otherwise(expr("(w * lambda_micros) div 1000000"))
          .as("alloc"))
      .orderBy(col("ratio_micros"), col("src"))
  }

  /** Cochran's Q — the k-classifier generalization of [[mcNemar]]:
    * k binary judges on the SAME n examples, Q = (k−1)·(k·ΣG_j² − S²)
    * / (k·S − ΣL_i²) with G_j = judge j's successes, L_i = example i's
    * success count, S = ΣL — "do these k quality filters have the same
    * accuracy" in one test instead of k² pairwise McNemars (the
    * multiple-comparisons trap x161 exists to fix). Q ≈ χ²(k−1) under
    * the null; reject → drill into pairwise x162.
    *
    * Exactness: all sums exact (per-row L/L² row-local, per-judge G in
    * one aggregation), the statistic one truncated micro division in
    * DECIMAL(38,0). Degenerate inputs (every example all-success or
    * all-failure ⇒ denominator 0) → NULL.
    *
    * Scale shape: ONE map-side-combined aggregation over rows carrying
    * k+3 sums; everything after is scalar. */
  def cochranQ(rows: DataFrame, labelCol: String,
      predCols: Seq[String]): DataFrame = {
    require(predCols.size >= 2, s"need >= 2 judges, got ${predCols.size}")
    val k = predCols.size
    val filtered = rows.filter(col(labelCol).isNotNull &&
      predCols.map(col(_).isNotNull).reduce(_ && _))
    val oks = predCols.zipWithIndex.map { case (p, i) =>
      when(col(p).cast("boolean") === col(labelCol).cast("boolean"), 1L)
        .otherwise(0L).as(s"ok$i")
    }
    val base = filtered.select(oks: _*)
    val li = base.columns.map(col).reduce(_ + _)
    val gSums = base.columns.zipWithIndex.map { case (c, i) =>
      sum(col(c)).as(s"g$i")
    }
    val agg = base
      .withColumn("li", li)
      .agg(count(lit(1)).as("n"),
        (Seq(sum(col("li")).as("s"), sum(expr("li * li")).as("l2")) ++
          gSums): _*)
    val sumGsq = (0 until k)
      .map(i => s"CAST(g$i AS DECIMAL(38,0)) * g$i")
      .mkString(" + ")
    agg.select(col("n"), lit(k).cast("long").as("k_judges"), col("s"),
      when(expr(s"$k * s - l2") === 0, lit(null).cast("long"))
        .otherwise(expr(
          s"CAST((1000000 * ${k - 1} * ($k * ($sumGsq) -" +
            s" CAST(s AS DECIMAL(38,0)) * s))" +
            s" div (CAST($k AS DECIMAL(38,0)) * s - l2) AS BIGINT)"))
        .as("q_micros"))
  }

  /** Largest-remainder (Hare) apportionment — split an integer budget
    * across sources EXACTLY proportionally to weights: every source
    * gets ⌊seats·w/W⌋, and the leftover seats go one each to the
    * largest fractional remainders (ties by source id). The allocation
    * sums to the budget EXACTLY by construction — proportional
    * rounding that "just truncates" silently under-spends by up to
    * |sources| seats. The quota-assignment primitive next to
    * [[waterFill]] (which handles supply caps; this is the
    * no-caps exact split).
    *
    * Exactness: base and remainder are one integer division each
    * (remainder = seats·w mod W — exact, no micro grain); the top-R
    * cut is a rank over the sources relation with the documented
    * (remainder desc, src) tie order.
    *
    * Scale shape: everything on the SOURCES relation (bounded by
    * source cardinality; single-partition window documented). */
  def largestRemainder(sources: DataFrame, srcCol: String,
      weightCol: String, seats: Long): DataFrame = {
    require(seats >= 0, s"seats must be >= 0, got $seats")
    val base = sources
      .filter(col(srcCol).isNotNull && col(weightCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        integralLong(weightCol, "largestRemainder").as("w"))
      .filter(col("w") > 0)
    val tot = base.agg(sum(col("w")).as("w_all"))
    val quotas = base.crossJoin(broadcast(tot))
      .select(col("src"), col("w"),
        expr(s"(${seats}L * w) div w_all").as("base"),
        expr(s"(${seats}L * w) % w_all").as("remainder"))
      .localCheckpoint(true) // feeds the leftover count AND the rank
    val leftover = quotas.agg((lit(seats) - sum(col("base"))).as("r"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("remainder").desc, col("src"))
    quotas
      .withColumn("rem_rank", row_number().over(wRank))
      .crossJoin(broadcast(leftover))
      .select(col("src"), col("w"), col("base"), col("remainder"),
        col("rem_rank"),
        (col("base") + when(col("rem_rank") <= col("r"), 1L)
          .otherwise(0L)).as("alloc"))
      .orderBy(col("src"))
  }

  /** Mantel–Haenszel pooled odds ratio — the confounder-adjusted
    * association between a binary exposure and a binary outcome ACROSS
    * strata: OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) pools the per-stratum
    * 2×2 tables without letting stratum size differences manufacture
    * or mask the effect — the Simpson's-paradox guard ("long docs are
    * English-er" might be pure source mix; this asks if it holds
    * WITHIN sources). Per-stratum rows carry the four cells and both
    * micro terms; the pooled OR broadcasts onto every row.
    *
    * Exactness: cells are exact counts; each stratum's ad/n and bc/n
    * truncated to micros once (the per-item rounding convention); the
    * final ratio one truncated DECIMAL(38,0) division. Σ(bc/n) = 0
    * (no discordant cells anywhere) → NULL.
    *
    * Scale shape: one (stratum, exposure, outcome) aggregation, a
    * strata-grain pivot, one scalar reduce broadcast back. */
  def mantelHaenszel(rows: DataFrame, strataCol: String,
      exposureCol: String, outcomeCol: String): DataFrame = {
    val base = rows
      .filter(col(strataCol).isNotNull && col(exposureCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(strataCol).cast("string").as("stratum"),
        when(col(exposureCol).cast("boolean"), 1L).otherwise(0L).as("e"),
        when(col(outcomeCol).cast("boolean"), 1L).otherwise(0L).as("o"))
    val cells = base.groupBy(col("stratum"))
      .agg(sum(expr("e * o")).as("a"),
        sum(expr("e * (1 - o)")).as("b"),
        sum(expr("(1 - e) * o")).as("c"),
        sum(expr("(1 - e) * (1 - o)")).as("d"),
        count(lit(1)).as("n"))
      .select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
        col("n"),
        // 10⁶·a·d wraps BIGINT past a·d ≈ 9.2·10¹² (~3M rows in each
        // cell): run the products in DECIMAL(38,0) and cast the ≤10⁶·n
        // quotient back (the oracle mirrors via HUGEINT)
        expr("CAST((1000000 * CAST(a AS DECIMAL(38,0)) * d) div n" +
          " AS BIGINT)").as("ad_n_micros"),
        expr("CAST((1000000 * CAST(b AS DECIMAL(38,0)) * c) div n" +
          " AS BIGINT)").as("bc_n_micros"))
      .localCheckpoint(true) // feeds the pooled reduce AND the output
    val pooled = cells.agg(sum(col("ad_n_micros")).as("sr"),
        sum(col("bc_n_micros")).as("ss"))
      .select(when(col("ss") === 0, lit(null).cast("long"))
        .otherwise(expr(
          "CAST((1000000 * CAST(sr AS DECIMAL(38,0))) div ss AS BIGINT)"))
        .as("or_mh_micros"))
    cells.crossJoin(broadcast(pooled))
      .select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
        col("ad_n_micros"), col("bc_n_micros"), col("or_mh_micros"))
      .orderBy(col("stratum"))
  }

  /** CUPED variance-reduced arm means — the experimentation-shelf
    * adjustment that removes pre-period signal from a post-period
    * metric: θ = cov(x, y)/var(x) fit POOLED (the unbiased-under-
    * randomization choice), each arm reports ȳ − θ·(x̄_arm − x̄) —
    * the arm difference keeps its expectation while the pre-period
    * noise (often most of the variance in engagement metrics) cancels.
    * "Did the new filter change downstream volume" read on far fewer
    * samples.
    *
    * Exactness: θ from exact DECIMAL(38,0) sums (n·Σxy − Σx·Σy over
    * n·Σx² − (Σx)²) truncated once to micros; arm means truncated to
    * micros once each; the adjustment one more truncated product.
    * Zero pre-period variance → NULL θ and adjusted = raw.
    *
    * Scale shape: one pooled aggregation + one per-arm aggregation
    * (both map-side-combined), scalar θ broadcast onto the arms
    * relation. */
  def cuped(rows: DataFrame, armCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = rows
      .filter(col(armCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(armCol).cast("string").as("arm"),
        integralLong(xCol, "cuped").as("x"),
        integralLong(yCol, "cuped").as("y"))
      .localCheckpoint(true) // feeds the pooled θ AND the per-arm agg
    val theta = base
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(col("n"),
        expr("(1000000 * sx) div n").as("mean_x_micros"),
        // covariance can be negative — sign-explicit truncation (Spark
        // div truncates, DuckDB // floors; identical only on
        // nonnegative operands)
        when(expr("CAST(n AS DECIMAL(38,0)) * sxx" +
          " - CAST(sx AS DECIMAL(38,0)) * sx") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST(sign(CAST(n AS DECIMAL(38,0)) * sxy" +
              " - CAST(sx AS DECIMAL(38,0)) * sy) AS BIGINT)" +
              " * CAST((1000000 * abs(CAST(n AS DECIMAL(38,0)) * sxy" +
              " - CAST(sx AS DECIMAL(38,0)) * sy))" +
              " div (CAST(n AS DECIMAL(38,0)) * sxx" +
              " - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"))
          .as("theta_micros"))
    base.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_arm"), sum(col("x")).as("sxa"),
        sum(col("y")).as("sya"))
      .select(col("arm"), col("n_arm"),
        expr("(1000000 * sxa) div n_arm").as("mean_x_arm_micros"),
        expr("(1000000 * sya) div n_arm").as("mean_y_arm_micros"))
      .crossJoin(broadcast(theta))
      .select(col("arm"), col("n_arm"), col("mean_x_arm_micros"),
        col("mean_y_arm_micros"), col("theta_micros"),
        // the correction product can be negative — same sign-explicit
        // truncation as θ itself
        when(col("theta_micros").isNull, col("mean_y_arm_micros"))
          .otherwise(col("mean_y_arm_micros") -
            expr("CAST(sign(theta_micros * (mean_x_arm_micros" +
              " - mean_x_micros)) AS BIGINT)" +
              " * (abs(theta_micros * (mean_x_arm_micros" +
              " - mean_x_micros)) div 1000000)"))
          .as("adj_mean_y_micros"))
      .orderBy(col("arm"))
  }

  /** Kruskal–Wallis H — the k-GROUP generalization of [[mannWhitneyU]]
    * (k = 2 reduces to the rank-sum z² exactly — spec-pinned): "does
    * document quality differ across these 20 sources" in ONE
    * tie-corrected rank test instead of 190 pairwise comparisons (the
    * trap x161 exists to fix). H ≈ χ²(k−1) under the null; reject →
    * drill into pairwise x159.
    *
    * Exactness: pooled doubled midranks per DISTINCT value (the x121
    * identity), per-group rank sums in DECIMAL(38,0), each group's
    * R²/n quantized once to micros, the tie correction one more
    * chained truncated division with the truncation-slack clamp at 0;
    * exact to n ≈ 2·10⁷ (raise_error past it — pre-bucket first, the
    * statistic reads only ranks). All-tied input → NULL.
    *
    * Scale shape: per-(group, value) counts map-side-combined, one
    * cumulative pass over DISTINCT pooled values, one value-grain
    * equi-join, a groups-grain reduce. */
  def kruskalWallis(rows: DataFrame, groupCol: String, valueCol: String,
      maxExactRows: Long = 20000000L): DataFrame = {
    val base = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        integralLong(valueCol, "kruskalWallis").as("v"))
    val gv = base.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds the pooled AND per-group passes
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val pooled = gv.groupBy(col("v")).agg(sum(col("c")).as("pc"))
      .withColumn("cb", coalesce(sum(col("pc")).over(wCum), lit(0L)))
      .localCheckpoint(true) // feeds the join AND the tie/total reduce
    val tie = pooled.agg(sum(col("pc")).as("n"),
      sum(expr("CAST(pc AS DECIMAL(38,0)) * pc * pc - pc")).as("t"))
    val perGroup = gv.join(pooled, Seq("v"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("nj"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (2 * cb + pc + 1)")).as("r2"))
      .agg(count(lit(1)).as("k"),
        sum(expr("(1000000 * r2 * r2) div (4 * CAST(nj AS" +
          " DECIMAL(38,0)))")).as("ssum"))
    perGroup.crossJoin(broadcast(tie))
      .select(col("n"), col("k").as("k_groups"),
        when(col("n") > maxExactRows, expr(
          "raise_error('kruskalWallis: exact-arithmetic bound exceeded" +
            " (n > maxExactRows); pre-bucket the value column')"))
          .otherwise(expr(
            "CAST((12 * ssum) div (CAST(n AS DECIMAL(38,0)) * (n + 1))" +
              " - 3000000 * (n + 1) AS BIGINT)")).as("h_micros"))
      .crossJoin(broadcast(tie.select(col("t"), col("n").as("n2"))))
      .select(col("n"), col("k_groups"), col("h_micros"),
        // tie correction H′ = H·(n³−n)/(n³−n−T); truncation slack can
        // land H a hair negative — clamp (the info-gain convention)
        when(expr("CAST(n2 AS DECIMAL(38,0)) * n2 * n2 - n2 - t") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((greatest(0L, h_micros) * (CAST(n2 AS DECIMAL(38,0))" +
              " * n2 * n2 - n2))" +
              " div (CAST(n2 AS DECIMAL(38,0)) * n2 * n2 - n2 - t)" +
              " AS BIGINT)")).as("h_tc_micros"))
  }

  /** Hodges–Lehmann two-sample shift — the MEDIAN of all cross-pair
    * differences a − b: the robust EFFECT SIZE companion to x159's
    * significance ("English docs are ~how many chars longer,
    * outlier-proof"); a mean difference is hostage to the same tails
    * MWU exists to dodge. Exact weighted median over the
    * value-pair-grain difference relation — n_a·n_b pairs priced as
    * |V_a|·|V_b| weighted cells, never materialized pairwise.
    *
    * Exactness: integer differences with exact DECIMAL(38,0) weights
    * (count products), the lower weighted median at ceil-rank
    * ⌈(W+1)/2⌉ — deterministic, no interpolation. The cell-count
    * guard refuses |V_a|·|V_b| > maxPairCells by name (bucket
    * continuous inputs first).
    *
    * Scale shape: two map-side-combined per-value counts, one bounded
    * cross of the value relations, one cumulative pass over DISTINCT
    * differences. */
  def hodgesLehmannShift(a: DataFrame, b: DataFrame, valueCol: String,
      maxPairCells: Long = 4000000L): DataFrame = {
    def counts(df: DataFrame) = df
      .filter(col(s"`$valueCol`").isNotNull)
      .groupBy(integralLong(valueCol, "hodgesLehmannShift").as("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val ca = counts(a)
    val cb = counts(b)
    val guard = ca.agg(count(lit(1)).as("na_v"))
      .crossJoin(broadcast(cb.agg(count(lit(1)).as("nb_v"))))
      .select(when(col("na_v") * col("nb_v") > maxPairCells, expr(
        "raise_error('hodgesLehmannShift: value-pair cells exceed" +
          " maxPairCells; bucket the value column first')"))
        .otherwise(col("na_v") * col("nb_v")).as("n_cells"))
    val diffs = ca.as("x").crossJoin(cb.as("y"))
      .groupBy((col("x.v") - col("y.v")).as("d"))
      .agg(sum(expr("CAST(x.c AS DECIMAL(38,0)) * y.c")).as("w"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = diffs.withColumn("cw", sum(col("w")).over(wCum))
      .localCheckpoint(true)
    val tot = cum.agg(max(col("cw")).as("wt"), count(lit(1)).as("nd"))
    val med = cum.crossJoin(broadcast(tot))
      .filter(col("cw") >= expr("(wt + 1) div 2"))
      .agg(min(col("d")).as("hl_shift"))
    ca.agg(sum(col("c")).as("n_a"))
      .crossJoin(broadcast(cb.agg(sum(col("c")).as("n_b"))))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(med))
      .crossJoin(broadcast(guard))
      .select(col("n_a"), col("n_b"), col("nd").as("n_diff_values"),
        col("wt").cast("long").as("w_total"), col("n_cells"),
        col("hl_shift"))
  }

  /** Friedman test — k TREATMENTS measured on the same n BLOCKS, ranks
    * taken WITHIN each block: "is the event-type volume ordering
    * stable across days", "do the k quality heuristics rank docs the
    * same way corpus-wide" — the repeated-measures companion to
    * [[kruskalWallis]] (independent groups) and [[cochranQ]] (binary
    * outcomes). Tie-corrected; χ²(k−1) under the null.
    *
    * Exactness: within-block doubled midranks are ROW-LOCAL CASE sums
    * (k ≤ 8 enforced — the expression is O(k²) per row); per-block tie
    * terms Σ(t³−t) likewise row-local; cross-block sums exact in
    * DECIMAL(38,0); the statistic and its tie correction two chained
    * truncated micro divisions with the clamp-at-0. Zero tie-corrected
    * denominator (every block fully tied) → NULL.
    *
    * Scale shape: ONE map-side-combined aggregation over blocks —
    * no shuffle beyond the final reduce. */
  /** Row-local doubled midranks over k wide columns v0..v{k-1} —
    * 2·#{less} + #{tied incl. self} + 1 per treatment — plus the
    * per-block tie term Σ_values (t³−t) = Σ_positions (t_i² − 1):
    * the shared rank core of [[friedmanTest]] and [[pageTrend]]. */
  private def blockMidranks(k: Int): (Seq[Column], Column) = {
    val rankCols = (0 until k).map { j =>
      val less = (0 until k).filter(_ != j)
        .map(i => when(col(s"v$i") < col(s"v$j"), 2L).otherwise(0L))
        .reduce(_ + _)
      val ties = (0 until k).filter(_ != j)
        .map(i => when(col(s"v$i") === col(s"v$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      (less + ties + 2L).as(s"r$j")
    }
    val tieTerm = (0 until k).map { i =>
      val t = (0 until k)
        .map(m => when(col(s"v$m") === col(s"v$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      t * t - lit(1L)
    }.reduce(_ + _)
    (rankCols, tieTerm)
  }

  def friedmanTest(rows: DataFrame, treatmentCols: Seq[String]): DataFrame = {
    val k = treatmentCols.size
    require(k >= 2 && k <= 8,
      s"friedmanTest needs 2 <= k <= 8 treatments, got $k")
    val filtered = rows.filter(
      treatmentCols.map(col(_).isNotNull).reduce(_ && _))
    val vals = treatmentCols.zipWithIndex.map { case (c, i) =>
      integralLong(c, "friedmanTest").as(s"v$i")
    }
    val base = filtered.select(vals: _*)
    val (rankCols, tieTerm) = blockMidranks(k)
    val ranked = base.select(rankCols :+ tieTerm.as("tb"): _*)
    val sums = ranked.agg(count(lit(1)).as("n"),
      (Seq(sum(col("tb")).as("t")) ++
        (0 until k).map(j => sum(col(s"r$j")).as(s"s$j"))): _*)
    val sumR2Sq = (0 until k)
      .map(j => s"CAST(s$j AS DECIMAL(38,0)) * s$j").mkString(" + ")
    sums.select(col("n").as("n_blocks"), lit(k).cast("long").as("k"),
      col("t").as("tie_sum"),
      expr(s"CAST((3000000 * ($sumR2Sq))" +
        s" div (CAST(n AS DECIMAL(38,0)) * $k * ${k + 1})" +
        s" - 3000000 * n * ${k + 1} AS BIGINT)").as("chi2_micros"))
      .select(col("n_blocks"), col("k"), col("tie_sum"), col("chi2_micros"),
        when(expr(s"CAST(n_blocks AS DECIMAL(38,0)) * ${k * (k * k - 1)}" +
          " - tie_sum") === 0, lit(null).cast("long"))
          .otherwise(expr(
            s"CAST((greatest(0L, chi2_micros)" +
              s" * (CAST(n_blocks AS DECIMAL(38,0)) * ${k * (k * k - 1)}))" +
              s" div (CAST(n_blocks AS DECIMAL(38,0)) * ${k * (k * k - 1)}" +
              " - tie_sum) AS BIGINT)")).as("chi2_tc_micros"))
  }

  /** Corpus-level BLEU-2 — modified (clipped) 1-gram and 2-gram
    * precision of a CANDIDATE corpus against a REFERENCE corpus, with
    * the brevity penalty: the generated-data QA read ("how much of
    * this synthetic batch is lexically licensed by the seed corpus")
    * at corpus grain — x60's novelty asks what is NEW, this asks what
    * is COVERED, clipping repeated n-grams so "the the the" can't farm
    * precision. BLEU-2 = BP·exp(½(ln p₁ + ln p₂)).
    *
    * Exactness: clipped counts Σ min(c_cand, c_ref) are exact BIGINT
    * from two n-gram-grain joins; p₁/p₂ truncated micros; BP and the
    * geometric mean each ONE written-out IEEE sequence rounded once
    * (the x28j convention). Zero clipped mass at either order → BLEU
    * 0, no ln(0).
    *
    * Scale shape: n-gram counting is map-side-combined; the clip
    * joins run at n-gram-TYPE grain (vocabulary, not tokens); scalar
    * finish. */
  def bleuNgramPrecision(cand: DataFrame, ref: DataFrame,
      textCol: String): DataFrame = {
    def toks(df: DataFrame) =
      df.filter(col(s"`$textCol`").isNotNull)
        .select(graft.ops.DedupOps.tokens(col(s"`$textCol`")).as("tk"))
    def unigrams(df: DataFrame, out: String) = toks(df)
      .select(explode(col("tk")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as(out))
    def bigrams(df: DataFrame, out: String) = toks(df)
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1)," +
          " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
        .as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as(out))
    def clip(c: DataFrame, r: DataFrame) = c.join(r, Seq("g"))
      .agg(coalesce(sum(least(col("cc"), col("cr"))), lit(0L)).as("clip"))
    val u1 = unigrams(cand, "cc").localCheckpoint(true) // clip + totals
    val r1 = unigrams(ref, "cr")
    val u2 = bigrams(cand, "cc")
    val r2 = bigrams(ref, "cr")
    val tot = u1.agg(sum(col("cc")).as("cand_tokens"))
      .crossJoin(broadcast(r1.agg(sum(col("cr")).as("ref_tokens"))))
      .crossJoin(broadcast(u2.agg(
        coalesce(sum(col("cc")), lit(0L)).as("cand_bigrams"))))
    tot
      .crossJoin(broadcast(clip(u1, r1).withColumnRenamed("clip", "clip1")))
      .crossJoin(broadcast(clip(u2, r2).withColumnRenamed("clip", "clip2")))
      .select(col("cand_tokens"), col("ref_tokens"), col("cand_bigrams"),
        col("clip1"), col("clip2"),
        expr("(1000000 * clip1) div cand_tokens").as("p1_micros"),
        when(col("cand_bigrams") === 0, lit(0L))
          .otherwise(expr("(1000000 * clip2) div cand_bigrams"))
          .as("p2_micros"),
        // BP = min(1, e^(1 − r/c)) — one IEEE sequence, rounded once
        when(col("cand_tokens") >= col("ref_tokens"), lit(1000000L))
          .otherwise(expr(
            "CAST(round(exp(1.0 - CAST(ref_tokens AS DOUBLE)" +
              " / cand_tokens) * 1000000.0, 0) AS BIGINT)"))
          .as("bp_micros"))
      .select(col("cand_tokens"), col("ref_tokens"), col("cand_bigrams"),
        col("clip1"), col("clip2"), col("p1_micros"), col("p2_micros"),
        col("bp_micros"),
        // geometric mean in ln space — zero clipped mass → 0 outright
        when(col("clip1") === 0 || col("clip2") === 0, lit(0L))
          .otherwise(expr(
            "CAST(round(CAST(bp_micros AS DOUBLE) / 1000000.0" +
              " * exp(0.5 * (ln(CAST(clip1 AS DOUBLE) / cand_tokens)" +
              " + ln(CAST(clip2 AS DOUBLE) / cand_bigrams)))" +
              " * 1000000.0, 0) AS BIGINT)")).as("bleu2_micros"))
  }

  /** Isotonic calibration by bucketed pool-adjacent-violators — the
    * monotone regression of an outcome rate on a score, via the exact
    * max–min identity fit_b = max_{i≤b} min_{j≥b} mean(y over buckets
    * i..j): what calibrating a quality score against observed labels
    * actually requires (Platt scaling assumes a sigmoid; isotonic
    * assumes only monotonicity). x122's ECE *measures* miscalibration;
    * this *repairs* it, and the repaired curve is monotone by
    * construction.
    *
    * Exactness: per-bucket (positives, count) exact; every interval
    * mean one truncated micro division from exact prefix sums; the
    * max-of-min over truncated means replays bit-for-bit (max/min of
    * identical integers). Empty input → empty output.
    *
    * Scale shape: rows touch ONE aggregation to bucket grain; the
    * i≤b≤j triple relation is buckets³ (10 buckets → 1 000 rows) built
    * from two broadcast joins on the bucket relation — nothing
    * row-scale past the first aggregation. */
  def isotonicCalibration(rows: DataFrame, bucketCol: String,
      labelCol: String): DataFrame = {
    val byB = rows
      .filter(col(bucketCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(integralLong(bucketCol, "isotonicCalibration").as("b"))
      .agg(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
        .as("pos"), count(lit(1)).as("cnt"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // bucket-grain prefix sums (single-partition window over ≤ buckets
    // rows — bounded by construction)
    val pre = byB
      .withColumn("cpos", sum(col("pos")).over(wOrd))
      .withColumn("ccnt", sum(col("cnt")).over(wOrd))
      .select(col("b"), col("pos"), col("cnt"), col("cpos"), col("ccnt"))
      // eager checkpoint (the x99 discipline): this bucket-grain
      // relation feeds FOUR branches (both interval-join sides, the
      // b-list join, the final rate join) — un-materialized, the row
      // scan + aggregation would run four times
      .localCheckpoint(true)
    val ivals = pre.as("i")
      .join(broadcast(pre.as("j")), col("j.b") >= col("i.b"))
      .select(col("i.b").as("lo"), col("j.b").as("hi"),
        expr("(1000000 * (j.cpos - i.cpos + i.pos))" +
          " div (j.ccnt - i.ccnt + i.cnt)").as("mean_micros"))
    // fit_b = max over i≤b of (min over j≥b of mean(i..j))
    val perLoB = ivals
      .join(broadcast(pre.select(col("b"))),
        col("lo") <= col("b") && col("b") <= col("hi"))
      .groupBy(col("b"), col("lo"))
      .agg(min(col("mean_micros")).as("min_mean"))
    perLoB.groupBy(col("b"))
      .agg(max(col("min_mean")).as("iso_rate_micros"))
      .join(pre.select(col("b"), col("pos"), col("cnt"),
        expr("(1000000 * pos) div cnt").as("raw_rate_micros")), Seq("b"))
      .select(col("b").as("bucket"), col("cnt").as("n"), col("pos"),
        col("raw_rate_micros"), col("iso_rate_micros"))
      .orderBy(col("bucket"))
  }

  /** Mood's median test — the k-sample location screen that needs ONLY
    * counts above/below the pooled median: per group, how many values
    * sit above the corpus-wide (lower) median vs the group's expected
    * share, χ² over the 2×k table. The blunter, assumption-lighter
    * sibling of kruskalWallis (x179): rank-free, so a single wild
    * outlier moves nothing — the first test to read when group value
    * distributions are heavy-tailed (doc lengths, token counts).
    *
    * Exactness: the pooled lower median is the ⌈N/2⌉-th order statistic
    * off the distinct-value cumulative relation (pure integers); per
    * group both χ² cells share the squared numerator (o·N − n_g·A)² —
    * algebra: the below-cell's (n_g−o)·N − n_g·(N−A) = −(o·N − n_g·A) —
    * each cell truncated once to micros in DECIMAL(38,0). Degenerate
    * margins (every value above or none above the median) → NULL χ².
    *
    * Scale shape: one distinct-value aggregation + single-partition
    * cumulative window at VALUE cardinality (the aucExact caveat:
    * bucket continuous measures first), one group-grain aggregation
    * (map-side combined), scalars broadcast back. Output one row per
    * group + the broadcast overall (median, chi2_micros, dof). */
  def moodsMedianTest(rows: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        integralLong(valueCol, "moodsMedianTest").as("v"))
    val byV = base.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // single-partition window over DISTINCT values only
    val cum = byV.withColumn("cum", sum(col("c")).over(wCum))
    val tot = cum.agg(coalesce(max(col("cum")), lit(0L)).as("nn"))
    val med = cum.crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(nn + 1) div 2"))
      .agg(min(col("v")).as("med"))
      .localCheckpoint(true) // 1 row, feeds the group pass AND the output
    val perG = base.crossJoin(broadcast(med))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("o_above"))
      // bounded (group grain), feeds the margins AND the output rows
      .localCheckpoint(true)
    val marg = perG.agg(sum(col("n")).as("nn"), sum(col("o_above")).as("aa"),
      count(lit(1)).as("k"))
    val terms = perG.crossJoin(broadcast(marg))
      .select(col("grp"), col("n"), col("o_above"),
        expr("CAST((1000000 * CAST(n AS DECIMAL(38,0)) * aa) div nn" +
          " AS BIGINT)").as("e_above_micros"),
        when(col("aa") === 0 || col("aa") === col("nn"),
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * (CAST(o_above AS DECIMAL(38,0)) * nn" +
              " - CAST(n AS DECIMAL(38,0)) * aa)" +
              " * (CAST(o_above AS DECIMAL(38,0)) * nn" +
              " - CAST(n AS DECIMAL(38,0)) * aa))" +
              " div (CAST(nn AS DECIMAL(38,0)) * n * aa)" +
              " + (1000000 * (CAST(o_above AS DECIMAL(38,0)) * nn" +
              " - CAST(n AS DECIMAL(38,0)) * aa)" +
              " * (CAST(o_above AS DECIMAL(38,0)) * nn" +
              " - CAST(n AS DECIMAL(38,0)) * aa))" +
              " div (CAST(nn AS DECIMAL(38,0)) * n * (nn - aa))" +
              " AS BIGINT)")).as("chi2_term_micros"))
      // bounded (group grain), feeds the overall reduce AND the output
      .localCheckpoint(true)
    val overall = terms.agg(sum(col("chi2_term_micros")).as("chi2_micros"),
      (count(lit(1)) - 1).as("dof"))
    terms.crossJoin(broadcast(overall)).crossJoin(broadcast(med))
      .select(col("grp"), col("n"), col("o_above"), col("e_above_micros"),
        col("chi2_term_micros"), col("med").as("pooled_median"),
        col("chi2_micros"), col("dof"))
      .orderBy(col("grp"))
  }

  /** Wald–Wolfowitz runs test over an ordered series — "is the
    * sequence of above/below-median days RANDOM, or does it clump"
    * (too few runs = regime persistence/drift, too many = oscillation;
    * the sequencing read beside x131's autocorrelation and x132's
    * CUSUM, which weigh magnitudes where this only reads the sign
    * pattern). Values EQUAL to the pooled median are excluded, the
    * classical dichotomization.
    *
    * Exactness: lower median off the distinct-value cumulative
    * relation; runs counted by a lag comparison over the ordered
    * series; E[R] = 1 + 2n₁n₂/n and Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1))
    * each truncated once to micros in DECIMAL(38,0); z² =
    * ⌊(10⁶R − E_micros)² / Var_micros⌋ — one more truncated division
    * on already-quantized operands (documented composition). Either
    * side empty or n < 2 → NULL.
    *
    * Scale shape: the series is expected at an AGGREGATED grain
    * (days, buckets — bounded cardinality); the lag window and the
    * cumulative median pass are single-partition over that bounded
    * relation (documented), everything upstream map-side combines. */
  def runsTest(series: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val base = series
      .filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(col(orderCol).as("x"),
        integralLong(valueCol, "runsTest").as("v"))
    val byV = base.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = byV.withColumn("cum", sum(col("c")).over(wCum))
    val tot = cum.agg(coalesce(max(col("cum")), lit(0L)).as("nn0"))
    val med = cum.crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(nn0 + 1) div 2"))
      .agg(min(col("v")).as("med"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
    val signs = base.crossJoin(broadcast(med))
      .filter(col("v") =!= col("med")) // classical exclusion of ties
      .select(col("x"), when(col("v") > col("med"), 1L).otherwise(0L).as("s"))
      .withColumn("prev", lag(col("s"), 1).over(wOrd))
    signs
      .agg(count(lit(1)).as("n"), sum(col("s")).as("n_above"),
        sum(lit(1L) - col("s")).as("n_below"),
        (sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L))).as("runs"))
      .select(col("n"), col("n_above"), col("n_below"), col("runs"),
        when(col("n") < 2 || col("n_above") === 0 || col("n_below") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST(1000000 + (2000000 * CAST(n_above AS DECIMAL(38,0))" +
              " * n_below) div n AS BIGINT)")).as("e_runs_micros"),
        when(col("n") < 2 || col("n_above") === 0 || col("n_below") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * 2 * CAST(n_above AS DECIMAL(38,0)) * n_below" +
              " * (2 * CAST(n_above AS DECIMAL(38,0)) * n_below - n))" +
              " div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS BIGINT)"))
          .as("var_runs_micros"))
      .select(col("n"), col("n_above"), col("n_below"), col("runs"),
        col("e_runs_micros"), col("var_runs_micros"),
        when(col("var_runs_micros").isNull ||
            col("var_runs_micros") <= 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(((1000000 * runs - e_runs_micros)" +
              " * CAST(1000000 * runs - e_runs_micros AS DECIMAL(38,0)))" +
              " div var_runs_micros AS BIGINT)")).as("z_sq_micros"))
  }

  /** Pairwise 1-D earth mover's distance (Wasserstein-1) between every
    * group pair's value distributions — EMD(a,b) = Σ_v |CDF_a(v) −
    * CDF_b(v)|·gap(v), the drift measure that PRICES how far mass
    * moved where KL/JSD (x63/x168) only price that it moved and KS
    * (x90) only reads the single worst gap: two sources whose length
    * distributions differ by 10 chars everywhere score small here and
    * large under KS. Units: micro·(value units).
    *
    * Exactness: per-group CDFs evaluated on the GLOBAL distinct-value
    * grid (groups × values via the margin cross, absent cells zero —
    * the x77 full-grid discipline), each CDF truncated once to micros
    * ⌊10⁶·cum_g/n_g⌋, gaps exact integers, the |diff|·gap sum exact.
    *
    * Scale shape: one (group, value) aggregation; the grid is
    * |groups|·|distinct values| (the aucExact caveat: bucket
    * continuous measures first); per-group cumulative windows
    * partition by group; the pair join is an equi-join ON VALUE
    * (never cartesian) and the final reduce is (pair)-grain. */
  def emdPairs(rows: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        integralLong(valueCol, "emdPairs").as("v"))
    val cell = base.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
      // (group, value) grain — bounded; feeds groups, vals AND the grid
      .localCheckpoint(true)
    val groups = cell.groupBy(col("grp")).agg(sum(col("c")).as("ng"))
      .localCheckpoint(true) // group grain; feeds grid + two rate joins
    val vals = cell.groupBy(col("v")).agg(count(lit(1)).as("nv")).select(col("v"))
    // full grid so a value a group never emits still advances its CDF
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
      .orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wLead = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
    // renamed join key: vals feeds BOTH gaps and the grid, and
    // localCheckpoint keeps attribute ids — a bare `v` here would be
    // ambiguous against the self-joined grid's a.v/b.v
    val gaps = vals
      .withColumn("gap", coalesce(lead(col("v"), 1).over(wLead) - col("v"),
        lit(0L)))
      .select(col("v").as("gv"), col("gap"))
    val grid = vals.crossJoin(broadcast(groups)) // margin cross, BNLJ
      .join(cell, Seq("grp", "v"), "left")
      .select(col("grp"), col("v"), col("ng"),
        coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cum", sum(col("c")).over(wG))
      .select(col("grp"), col("v"),
        expr("(1000000 * cum) div ng").as("cdf_micros"))
      .localCheckpoint(true) // grid grain; BOTH sides of the pair join
    grid.as("a")
      .join(grid.as("b"),
        col("a.v") === col("b.v") && col("a.grp") < col("b.grp"))
      .join(gaps, col("a.v") === col("gv"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(sum(abs(col("a.cdf_micros") - col("b.cdf_micros")) * col("gap"))
        .as("emd_micro_units"))
      .join(groups.select(col("grp").as("grp_a"), col("ng").as("n_a")),
        Seq("grp_a"))
      .join(groups.select(col("grp").as("grp_b"), col("ng").as("n_b")),
        Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        col("emd_micro_units"))
      .orderBy(col("grp_a"), col("grp_b"))
  }

  /** Cliff's delta + common-language effect size for a two-sample
    * comparison — δ = (#(a>b) − #(a<b))/(n_a·n_b) ∈ [−1, 1], the
    * ORDINAL effect size that reports HOW OFTEN one group wins where
    * mannWhitneyU (x159) reports whether it wins significantly: the
    * number a curation dashboard quotes next to x159's z² ("en docs
    * are longer than non-en in 61% of cross pairs", not just
    * "p < .05"). CLES = (#(a>b) + ½ties)/(n_a·n_b) is the same read
    * as a probability (≡ the AUC).
    *
    * Exactness: all three pair counts from the distinct-value
    * cumulative relation in DECIMAL(38,0) — gt = Σ_v a(v)·cumB<(v),
    * lt = Σ_v a(v)·(n_b − cumB≤(v)), ties = Σ_v a(v)·b(v) — and the
    * two ratios sign-explicit truncated micros (Spark div truncates
    * toward zero, DuckDB // floors; δ can be negative).
    *
    * Scale shape: identical to mannWhitneyU — one distinct-value
    * aggregation, one single-partition cumulative window at value
    * cardinality, one scalar reduce. */
  def cliffsDelta(rows: DataFrame, isACol: String,
      valueCol: String): DataFrame = {
    val base = rows
      .filter(col(isACol).isNotNull && col(valueCol).isNotNull)
      .select(when(col(isACol).cast("boolean"), 1L).otherwise(0L).as("ia"),
        integralLong(valueCol, "cliffsDelta").as("v"))
    val byV = base.groupBy(col("v"))
      .agg(sum(col("ia")).as("a"), sum(lit(1L) - col("ia")).as("b"))
    val wB = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = byV
      .withColumn("cumb_lt", coalesce(sum(col("b")).over(wB), lit(0L)))
    ranked
      .agg(sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
        sum(expr("CAST(a AS DECIMAL(38,0)) * cumb_lt")).as("gt"),
        sum(expr("CAST(a AS DECIMAL(38,0)) * b")).as("ties"))
      .select(col("n_a"), col("n_b"), col("gt"), col("ties"),
        // lt = n_a·n_b − gt − ties (every cross pair is >, < or =)
        expr("CAST(n_a AS DECIMAL(38,0)) * n_b - gt - ties").as("lt"))
      .select(col("n_a"), col("n_b"),
        col("gt").cast("long").as("n_gt"),
        col("lt").cast("long").as("n_lt"),
        col("ties").cast("long").as("n_tie"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(sign(gt - lt) * ((1000000 * abs(gt - lt))" +
              " div (CAST(n_a AS DECIMAL(38,0)) * n_b)) AS BIGINT)"))
          .as("delta_micros"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * (2 * gt + ties))" +
              " div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
          .as("cles_micros"))
  }

  /** One-way intraclass correlation ICC(1,1) — the RELIABILITY of a
    * rating column at the item grain: what share of rating variance is
    * BETWEEN items rather than rater noise within an item. The
    * variance-decomposition read beside krippendorffAlpha/fleissKappa
    * (categorical agreement) for NUMERIC scores — "are my quality
    * scores measuring documents, or measuring scorers". Unbalanced
    * one-way ANOVA: MSB = SSB/(k−1), MSW = SSW/(N−k), n₀ = (N −
    * Σn_i²/N)/(k−1), ICC = (MSB − MSW)/(MSB + (n₀−1)·MSW).
    *
    * Exactness: ratings quantized ONCE to integer MILLI units (so
    * squares stay ≤ ~10¹⁵/row and sums hold exactly in DECIMAL(38,0);
    * micros would overflow the square sums at corpus scale); each
    * per-item S_i²/n_i truncated once; the final ratio sign-explicit
    * truncated micros (MSB < MSW → negative ICC is a real, meaningful
    * outcome). Fewer than 2 items, no within-replication (N = k), or
    * a non-positive denominator → NULL.
    *
    * Scale shape: one item-grain aggregation (map-side combined), one
    * scalar reduce — no windows, no joins. */
  def iccOneWay(rows: DataFrame, itemCol: String,
      ratingCol: String): DataFrame = {
    val base = rows
      .filter(col(itemCol).isNotNull && col(ratingCol).isNotNull)
      .select(col(itemCol).cast("string").as("item"),
        expr(s"CAST(round(CAST(`$ratingCol` AS DOUBLE) * 1000.0, 0)" +
          " AS BIGINT)").as("x"))
    val perItem = base.groupBy(col("item"))
      .agg(count(lit(1)).as("ni"), sum(col("x")).as("si"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sq"))
    perItem
      .agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
        sum(col("si")).as("s"), sum(col("sq")).as("sx2"),
        sum(expr("(CAST(si AS DECIMAL(38,0)) * si) div ni")).as("sb_raw"),
        sum(expr("CAST(ni AS DECIMAL(38,0)) * ni")).as("sn2"))
      .select(col("k"), col("n"),
        // per-item truncation can push the raw SSB a hair below zero on
        // degenerate (all-equal) input; clamp so the following integral
        // division never sees a negative (Spark div truncates, DuckDB
        // // floors — they disagree exactly there)
        expr("CASE WHEN sb_raw - (CAST(s AS DECIMAL(38,0)) * s) div n < 0" +
          " THEN CAST(0 AS DECIMAL(38,0))" +
          " ELSE sb_raw - (CAST(s AS DECIMAL(38,0)) * s) div n END")
          .as("ssb"),
        expr("sx2 - sb_raw").as("ssw"), col("sn2"))
      .select(col("k"), col("n"),
        expr("CASE WHEN k < 2 THEN NULL ELSE ssb div (k - 1) END")
          .as("msb"),
        expr("CASE WHEN n <= k THEN NULL ELSE ssw div (n - k) END")
          .as("msw"),
        expr("CASE WHEN k < 2 THEN NULL ELSE" +
          " (1000000 * (n - sn2 div n)) div (k - 1) END").as("n0_micros"))
      .select(col("k"), col("n"),
        col("msb").cast("long").as("msb_milli2"),
        col("msw").cast("long").as("msw_milli2"),
        col("n0_micros").cast("long").as("n0_micros"),
        // Spark div returns LONG even off DECIMAL operands, so msb/msw
        // land as longs here — re-widen before the 10¹²-scaled ratio
        // (1e6·msb alone wraps BIGINT at corpus scale)
        when(col("msb").isNull || col("msw").isNull ||
            expr("1000000 * CAST(msb AS DECIMAL(38,0))" +
              " + (n0_micros - 1000000) * CAST(msw AS DECIMAL(38,0))") <= 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST(sign(msb - msw)" +
              " * ((1000000000000 * CAST(abs(msb - msw) AS DECIMAL(38,0)))" +
              " div (1000000 * CAST(msb AS DECIMAL(38,0))" +
              " + (n0_micros - 1000000) * CAST(msw AS DECIMAL(38,0))))" +
              " AS BIGINT)")).as("icc_micros"))
  }

  /** Poisson dispersion (variance-to-mean) test over per-unit event
    * counts — D = s²/c̄ with χ² = (N−1)·D = (N·Σc² − S²)/S: the
    * burstiness screen at the UNIT grain ("are events per user
    * Poisson-ish, or do a few users generate superlinear bursts"),
    * the scalar companion to x80's per-term burstiness and the
    * modeling gate before any Poisson-rate assumption (alerting
    * thresholds, rate limits) — D ≫ 1 says negative-binomial world.
    *
    * Exactness: counts are integers, so N·Σc² − S² is EXACT in
    * DECIMAL(38,0) (and provably ≥ 0 — Cauchy–Schwarz), each exported
    * ratio truncated once to micros. S = 0 or N < 2 → NULL.
    *
    * Scale shape: one unit-grain count aggregation (map-side
    * combined), one scalar reduce. */
  def dispersionTest(rows: DataFrame, unitCol: String): DataFrame = {
    val perUnit = rows
      .filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).cast("string").as("unit"))
      .agg(count(lit(1)).as("c"))
    perUnit
      .agg(count(lit(1)).as("n_units"), sum(col("c")).as("total"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sc2"))
      .select(col("n_units"), col("total"),
        when(col("n_units") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST((1000000 * CAST(total AS DECIMAL(38,0)))" +
            " div n_units AS BIGINT)")).as("mean_micros"),
        when(col("total") === 0 || col("n_units") < 2,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * (CAST(n_units AS DECIMAL(38,0)) * sc2" +
              " - CAST(total AS DECIMAL(38,0)) * total))" +
              " div (CAST(total AS DECIMAL(38,0)) * (n_units - 1))" +
              " AS BIGINT)")).as("dispersion_micros"),
        when(col("total") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * (CAST(n_units AS DECIMAL(38,0)) * sc2" +
              " - CAST(total AS DECIMAL(38,0)) * total))" +
              " div total AS BIGINT)")).as("chi2_micros"),
        (col("n_units") - 1).as("dof"))
  }
  /** Mann–Kendall trend test over an aggregated series — S =
    * Σ_{i<j} sign(y_j − y_i) with the tie-corrected variance
    * Var[S] = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 and the
    * continuity-corrected z²: the DIRECTIONAL monotone-trend
    * significance beside theilSenSlope (x160 reports HOW STEEP, this
    * reports WHETHER) and runsTest (sign patterns vs ordered pairs).
    * "Is daily intake genuinely declining" with no linearity or
    * distribution assumption.
    *
    * Exactness: S is an exact integer pair sum; Var·18 exact in
    * DECIMAL(38,0); τ_a and z² sign-explicit truncated micros (z² =
    * ⌊18·10⁶·(|S|−1)²/Var18⌋, the (|S|−1) continuity correction, 0 at
    * S = 0). Duplicate time points raise (aggregate the series first);
    * > 4096 points raise (the kendallTauB guard — the pair join is
    * points-squared, aggregate to a coarser grain).
    *
    * Scale shape: runs entirely on the AGGREGATED series (day grain —
    * bounded); one broadcast pair join over ≤ 4096 rows, one value-tie
    * aggregation, scalar reduces. The pair join consumes the series
    * THROUGH the guard relation, so both raises fire before any
    * points-squared work executes (not merely alongside it). */
  def mannKendallTrend(series: DataFrame, xCol: String,
      valueCol: String): DataFrame = {
    val base = series
      .filter(col(xCol).isNotNull && col(valueCol).isNotNull)
      .select(integralLong(xCol, "mannKendallTrend").as("x"),
        integralLong(valueCol, "mannKendallTrend").as("y"))
      .localCheckpoint(true) // bounded series grain, feeds 3 branches
    val guard = base
      .agg(count(lit(1)).as("n"), countDistinct(col("x")).as("nx"))
      .select(
        when(col("n") =!= col("nx"), expr(
          "raise_error('mannKendallTrend: duplicate time points —" +
            " aggregate the series to one row per x first')")
          .cast("long"))
          .when(col("n") > 4096, expr(
            "raise_error('mannKendallTrend: > 4096 points — aggregate" +
              " to a coarser grain (the pair join is points-squared)')")
            .cast("long"))
          .otherwise(col("n")).as("n"))
    // the pair join reads base THROUGH the guard (crossJoin + a filter
    // that references the guarded column), so the points-squared
    // explode cannot execute before the raise fires — a guard that
    // merely reports post-hoc would let the quadratic it warns about
    // run to completion first
    val gBase = base.crossJoin(broadcast(guard))
      .filter(col("n") >= 0).select(col("x"), col("y"))
    val sRel = gBase.as("p")
      .join(broadcast(gBase.as("q")), col("q.x") > col("p.x"))
      .agg(coalesce(sum(expr("CAST(sign(q.y - p.y) AS BIGINT)")), lit(0L))
        .as("s"))
    val ties = base.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr(
        "CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)")),
        lit(0L).cast("decimal(38,0)")).as("tie_term"))
    guard.crossJoin(broadcast(sRel)).crossJoin(broadcast(ties))
      .select(col("n"), col("s"),
        expr("CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5) - tie_term")
          .as("var18"))
      .select(col("n"), col("s"), col("var18").cast("long").as("var_s_x18"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(sign(s) * ((2000000 * abs(s))" +
              " div (CAST(n AS DECIMAL(38,0)) * (n - 1))) AS BIGINT)"))
          .as("tau_a_micros"),
        when(col("var18") <= 0, lit(null).cast("long"))
          .otherwise(expr(
            "CASE WHEN s = 0 THEN CAST(0 AS BIGINT)" +
              " ELSE CAST((18000000 * (CAST(abs(s) AS DECIMAL(38,0)) - 1)" +
              " * (CAST(abs(s) AS DECIMAL(38,0)) - 1)) div var18" +
              " AS BIGINT) END")).as("z_sq_micros"))
  }

  /** Chapman capture–recapture estimate of a population you can only
    * SAMPLE — here, of a pair relation too big to enumerate: run two
    * cheap, differently-biased candidate passes (two sort orders, two
    * blockings, two LSH salts), count each catch and the overlap, and
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 estimates the true pair count with the
    * classic small-sample-corrected estimator (+ its variance). At
    * 100 TB the all-pairs ground truth x150b measures is unaffordable —
    * this is the estimator a curation dashboard quotes instead, with
    * x150b as its small-scale calibration.
    *
    * Exactness: pure integer counts; estimate and variance each one
    * truncated DECIMAL(38,0) division. Empty overlap is fine (m = 0 →
    * the +1 smoothing keeps it finite).
    *
    * Scale shape: two distinct aggregations + one equi-join on the
    * pair key; the estimator itself is three scalars. Independence of
    * the two passes is the caller's design obligation (documented) —
    * positively correlated passes bias N̂ low. */
  def chapmanEstimate(capA: DataFrame, capB: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val a = capA.select(keyCols.map(col): _*).distinct()
      .localCheckpoint(true) // feeds its count AND the overlap join
    val b = capB.select(keyCols.map(col): _*).distinct()
      .localCheckpoint(true)
    val n1 = a.agg(count(lit(1)).as("n1"))
    val n2 = b.agg(count(lit(1)).as("n2"))
    val m = a.join(b, keyCols).agg(count(lit(1)).as("m"))
    n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
      .select(col("n1"), col("n2"), col("m"),
        expr("CAST((CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1))" +
          " div (m + 1) - 1 AS BIGINT)").as("chapman_est"),
        expr("CAST((CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1)" +
          " * (n1 - m) * (n2 - m))" +
          " div (CAST(m + 1 AS DECIMAL(38,0)) * (m + 1) * (m + 2))" +
          " AS BIGINT)").as("var_est"))
  }

  /** Youden's J optimal threshold off the exact ROC — the single
    * cutover that maximizes TPR − FPR, scanning every distinct score
    * as a candidate: the actionable end of x121's AUC ("WHERE do I cut
    * the quality score", not just "is it ranked well"), with the full
    * confusion at the chosen point. Ties on J break to the SMALLEST
    * threshold (keep more).
    *
    * Exactness: cumulative TP/FP from the descending distinct-score
    * relation (classify positive at score ≥ t), TPR/FPR each truncated
    * once to micros, J their exact difference; the argmax is a
    * deterministic (J desc, threshold asc) rank. One-class input →
    * NULL J (no trade-off exists).
    *
    * Scale shape: one distinct-score aggregation; two single-partition
    * windows at SCORE cardinality (the aucExact caveat: bucket
    * continuous scores first); output is one row. */
  def youdenThreshold(rows: DataFrame, labelCol: String,
      scoreCol: String): DataFrame = {
    val base = rows
      .filter(col(labelCol).isNotNull && col(scoreCol).isNotNull)
      .select(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)
        .as("pos"), integralLong(scoreCol, "youdenThreshold").as("v"))
    val byV = base.groupBy(col("v"))
      .agg(sum(col("pos")).as("p"), count(lit(1)).as("c"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("v").desc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = byV.agg(sum(col("p")).as("pp"),
      sum(col("c") - col("p")).as("nn"))
    val scanned = byV
      .withColumn("tp", sum(col("p")).over(wDesc))
      .withColumn("fp", sum(col("c") - col("p")).over(wDesc))
      .crossJoin(broadcast(tot))
      .select(col("v"), col("tp"), col("fp"), col("pp"), col("nn"),
        when(col("pp") === 0 || col("nn") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * tp) div pp").cast("long"))
          .as("tpr_micros"),
        when(col("pp") === 0 || col("nn") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * fp) div nn").cast("long"))
          .as("fpr_micros"))
      .withColumn("j_micros", col("tpr_micros") - col("fpr_micros"))
    val wBest = org.apache.spark.sql.expressions.Window
      .orderBy(col("j_micros").desc_nulls_last, col("v"))
    scanned.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("v").as("threshold"), col("tp"), col("fp"),
        (col("pp") - col("tp")).as("fn"), (col("nn") - col("fp")).as("tn"),
        col("tpr_micros"), col("fpr_micros"), col("j_micros"))
  }

  /** Rank-biased overlap (RBO@k, p = 0.9) between two top-k rankings —
    * the TOP-WEIGHTED list-similarity retrieval teams quote when two
    * rankers disagree: prefix overlap at every depth d, geometrically
    * discounted, so swaps at rank 1 cost far more than swaps at rank
    * k. The list-grain companion to nDCG (x143 scores one ranking
    * against labels; this compares two rankings to each other —
    * "did the index change my serving order where it matters").
    *
    * Exactness: per-depth term ⌊10⁶·9^(d−1)·|A_d ∩ B_d| / (10^d·d)⌋ —
    * powers of 9/10 are integers exact in a double to k ≤ 12 (round()
    * pins any libm residue), every division truncated once; RBO is
    * the exact sum of the truncated terms. Items present in only one
    * list contribute only through depths they share — the truncated
    * (non-extrapolated) RBO@k form.
    *
    * Scale shape: both lists are top-k relations (≤ k rows — the
    * caller produces them with TakeOrdered, never a global sort);
    * everything here is broadcast work on ≤ k² cells. */
  def rboOverlap(listA: DataFrame, listB: DataFrame, idCol: String,
      rankCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 12,
      s"k must be in [1, 12] (9^(k-1) must stay double-exact), got $k")
    val a = listA.select(col(idCol).as("id"), col(rankCol).as("ra"))
      .filter(col("ra") <= k)
    val b = listB.select(col(idCol).as("id"), col(rankCol).as("rb"))
      .filter(col("rb") <= k)
    val joined = a.join(b, Seq("id"))
      .select(greatest(col("ra"), col("rb")).as("first_common_depth"))
      .localCheckpoint(true) // ≤ k rows, feeds every depth
    val depths = listA.agg(count(lit(1)).as("_n"))
      .select(explode(expr(s"sequence(1, $k)")).as("depth"))
    val ovd = depths.crossJoin(broadcast(joined))
      .filter(col("first_common_depth") <= col("depth"))
      .groupBy(col("depth")).agg(count(lit(1)).as("overlap"))
    val terms = depths.join(ovd, Seq("depth"), "left")
      // depth as BIGINT: the oracle's generate_series is BIGINT-typed
      .select(col("depth").cast("long").as("depth"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
      .select(col("depth"), col("overlap"),
        expr("CAST((1000000 * CAST(round(power(9.0, depth - 1), 0)" +
          " AS DECIMAL(38,0)) * overlap)" +
          " div (CAST(round(power(10.0, depth), 0) AS DECIMAL(38,0))" +
          " * depth) AS BIGINT)").as("term_micros"))
      .localCheckpoint(true) // k rows, feeds the sum AND the output
    val total = terms.agg(sum(col("term_micros")).as("rbo_micros"))
    terms.crossJoin(broadcast(total))
      .select(col("depth"), col("overlap"), col("term_micros"),
        col("rbo_micros"))
      .orderBy(col("depth"))
  }

  /** Holm step-down (FWER) and Benjamini–Yekutieli (FDR under
    * arbitrary dependence) verdicts over the SAME per-slice z²/p̃
    * machinery as [[bhFdr]] — the three standard corrections side by
    * side on one ranked relation: Holm never claims more than BH-style
    * procedures but its rejections survive ANY dependence; BY is the
    * BH step-up with the harmonic penalty H_m for when slices are
    * correlated (they always are — shared corpus). A slice rejected by
    * Holm is a finding to act on; rejected only by BH, a lead.
    *
    * Exactness: Holm threshold α/(m−i+1) one truncated division per
    * rank; BY threshold i·α·10⁶/(m·H̃_m) with H̃_m = Σ⌊10⁶/i⌋ the
    * truncated harmonic (documented — both engines replay it);
    * step-down = reject ranks strictly before the FIRST failure,
    * step-up = reject ranks at or before the LAST success. NULL p̃
    * (degenerate pooled rate) fails both.
    *
    * Scale shape: identical to bhFdr — slice-grain throughout. */
  def multipleTestingStepdown(rows: DataFrame, sliceCol: String,
      flagCol: String, alphaMicros: Long,
      maxExactRows: Long = 100000000L): DataFrame = {
    require(alphaMicros >= 1 && alphaMicros <= 1000000,
      s"alphaMicros must be in [1, 1e6], got $alphaMicros")
    val ranked = pTildeRanked(rows, sliceCol, flagCol, maxExactRows,
      "multipleTestingStepdown")
    val hm = ranked.agg(sum(expr("1000000 div rank")).as("h_m_micros"))
    val scored = ranked.crossJoin(broadcast(hm))
      .withColumn("holm_threshold_micros",
        expr(s"${alphaMicros}L div (m - rank + 1)"))
      .withColumn("by_threshold_micros",
        expr(s"(rank * ${alphaMicros}L * 1000000) div" +
          " (CAST(m AS DECIMAL(38,0)) * h_m_micros)").cast("long"))
      .localCheckpoint(true) // slice grain, feeds both scans + output
    val firstFail = scored.agg(coalesce(
      min(when(col("p_tilde_micros").isNull ||
        col("p_tilde_micros") > col("holm_threshold_micros"),
        col("rank"))), lit(Long.MaxValue)).as("first_fail"))
    val kStarBy = scored.agg(coalesce(
      max(when(col("p_tilde_micros") <= col("by_threshold_micros"),
        col("rank"))), lit(0)).as("k_star_by"))
    scored.crossJoin(broadcast(firstFail)).crossJoin(broadcast(kStarBy))
      .select(col("slice"), col("n_s"), col("k_s"), col("z_sq_micros"),
        col("p_tilde_micros"), col("rank"), col("holm_threshold_micros"),
        (col("rank") < col("first_fail")).as("rejected_holm"),
        col("by_threshold_micros"),
        (col("rank") <= col("k_star_by")).as("rejected_by"))
      .orderBy(col("rank"))
  }
  /** Gini concentration + Lorenz curve over per-group mass — the
    * inequality read beside x128's HHI: HHI answers "how few groups
    * dominate", Gini prices the WHOLE distribution shape (a corpus of
    * one giant crawl + a hundred slivers and a corpus of ten mid-sized
    * crawls can share an HHI while their Gini differ sharply). Output:
    * one row per group ascending by mass with its Lorenz coordinate
    * (cumulative mass share), plus the broadcast Gini.
    *
    * Exactness: groups sort ascending by (mass, group) — the
    * deterministic tie-break; Gini = (2Σi·xᵢ − (n+1)·S)/(n·S) is exact
    * integer algebra on the ranked relation (numerator nonnegative for
    * the ascending sort), one truncated division; Lorenz shares one
    * truncated division each.
    *
    * Scale shape: one group-grain aggregation, a single-partition rank
    * window at GROUP cardinality (bounded — sources, not rows), one
    * scalar reduce broadcast back. */
  def giniConcentration(rows: DataFrame, groupCol: String): DataFrame = {
    val per = rows
      .filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("mass"))
      .localCheckpoint(true) // group grain; feeds rank, totals, output
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("mass"), col("grp"))
    val ranked = per.withColumn("rank", row_number().over(wRank))
      .withColumn("cum_mass", sum(col("mass")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("mass"), col("grp"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .localCheckpoint(true)
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("mass")).as("s"),
      sum(expr("CAST(rank AS DECIMAL(38,0)) * mass")).as("rx"))
    ranked.crossJoin(broadcast(tot))
      .select(col("grp"), col("mass"), col("rank"),
        expr("CAST((1000000 * cum_mass) div s AS BIGINT)")
          .as("lorenz_micros"),
        when(col("s") === 0 || col("n") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * (2 * rx - (CAST(n AS DECIMAL(38,0)) + 1)" +
              " * s)) div (CAST(n AS DECIMAL(38,0)) * s) AS BIGINT)"))
          .as("gini_micros"))
      .orderBy(col("rank"))
  }

  /** Deterministic label-permutation test of a two-group sum — the
    * assumption-free significance read beside the rank tests: is the
    * observed group-A total extreme against B content-addressed
    * re-labelings of the SAME rows (group sizes preserved)? No normal
    * approximation, no distribution assumption, and because the
    * permutations are sha-derived from (row id, permutation index) the
    * p-value replays bit-for-bit in any engine — randomization
    * inference an oracle can check.
    *
    * Exactness: permutation b assigns the n_a rows with the SMALLEST
    * sha256(id:b) (ties by id) to pseudo-A; the two-sided extremeness
    * comparison runs on |n·stat − n_a·S| (cross-multiplied — no
    * division until the final p̃ = (1 + #extreme)/(B+1), truncated
    * once). Add-one smoothing keeps p ≥ 1/(B+1), the classic
    * permutation-test floor.
    *
    * Scale shape: rows×B explode (linear in B); the per-permutation
    * selection is the x32 two-pass bucket-rank form, NOT a corpus-wide
    * rank window — `Window.partitionBy(pb)` would put the ENTIRE
    * corpus in each of B partitions (B single-task corpus sorts, the
    * r15-verdict scale defect). Because sha256 hex is uniform and its
    * lexicographic order IS its numeric order, the first 4 hex chars
    * bucket rows into 256 equi-width ranges monotone in h with no
    * quantile pass; per-(pb, bucket) counts (one map-side-combined
    * aggregation, ≤ B·256 rows) turn into cumulative offsets via a
    * bounded window, and then per permutation: buckets entirely below
    * the n_a cut contribute their sums with NO sort, buckets entirely
    * above are dropped before any sort, and only the ONE straddling
    * bucket per permutation (~n/256 rows) pays a rank window —
    * partitioned by (pb, bucket), so no task ever holds more than a
    * bucket. B is the knob: 39 permutations resolve p = 0.025 steps;
    * the fixture uses 40. */
  def permutationTestSum(rows: DataFrame, idCol: String, isACol: String,
      valueCol: String, b: Int): DataFrame = {
    require(b >= 1 && b <= 1000, s"b must be in [1, 1000], got $b")
    val base = rows
      .filter(col(idCol).isNotNull && col(isACol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("id"),
        when(col(isACol).cast("boolean"), 1L).otherwise(0L).as("ia"),
        integralLong(valueCol, "permutationTestSum").as("v"))
      .localCheckpoint(true) // feeds the observed stats AND the explode
    // coalesce: an empty corpus (or no group-A rows) must yield the
    // degenerate-but-defined test (every permutation stat 0 = obs), not
    // NULL aggregates that poison every downstream field
    val obs = base.agg(count(lit(1)).as("n"),
      coalesce(sum(col("ia")), lit(0L)).as("n_a"),
      coalesce(sum(col("v")), lit(0L)).as("s"),
      coalesce(sum(expr("ia * v")), lit(0L)).as("obs_sum"))
    // rows×B with the content-addressed permutation hash and its
    // 256-way equi-width bucket (first 16 hash bits div 256): bucket id
    // is monotone in h because fixed-length lowercase hex compares
    // lexicographically exactly as the value it encodes
    def exploded = base
      .select(col("id"), col("v"),
        explode(expr(s"sequence(0, ${b - 1})")).as("pb"))
      .withColumn("h", sha2(concat_ws(":", col("id"),
        col("pb").cast("string")), 256))
      .withColumn("bkt",
        expr("CAST(conv(substring(h, 1, 4), 16, 10) AS INT) div 256"))
    // pass 1 — (pb, bucket) occupancy → exclusive cumulative offsets;
    // the window runs over the ≤ B·256-row count relation (≤ 256 rows
    // per pb partition), and n_a rides along off the 1-row obs
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pb")).orderBy(col("bkt"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = exploded.groupBy(col("pb"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .crossJoin(broadcast(obs.select(col("n_a").as("na0"))))
      .select(col("pb"), col("bkt"), col("off"), col("c"), col("na0"))
    // pass 2 — fully-selected buckets (off + c ≤ n_a) sum with no sort;
    // fully-unselected (off ≥ n_a) never reach a sort; the straddling
    // bucket ranks only its own ~n/256 rows by (h, id), so global rank
    // = off + in-bucket rank reproduces the exact smallest-n_a set
    val wBkt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pb"), col("bkt"))
      .orderBy(col("h"), col("id"))
    val tagged = exploded.join(broadcast(offs), Seq("pb", "bkt"))
      .filter(col("off") < col("na0"))
    val full = tagged.filter(col("off") + col("c") <= col("na0"))
      .groupBy(col("pb")).agg(sum(col("v")).as("stat_f"))
    val straddle = tagged.filter(col("off") + col("c") > col("na0"))
      .withColumn("rk", row_number().over(wBkt))
      .filter(col("off") + col("rk") <= col("na0"))
      .groupBy(col("pb")).agg(sum(col("v")).as("stat_s"))
    // anchor on the FULL permutation list (1-row obs exploded to B):
    // with n_a = 0 no row survives the off < n_a cut, so full/straddle
    // are both empty and a bare full_outer would drop every permutation
    // — each one's stat is a legal empty sum (0), not a missing row
    val perms = obs.select(
      explode(expr(s"sequence(0, ${b - 1})")).as("pb"))
    val stats = perms
      .join(full.join(straddle, Seq("pb"), "full_outer"), Seq("pb"), "left")
      .select(col("pb"), (coalesce(col("stat_f"), lit(0L)) +
        coalesce(col("stat_s"), lit(0L))).as("stat"))
    val extreme = stats.crossJoin(broadcast(obs))
      .agg(sum(when(
        expr("abs(CAST(n AS DECIMAL(38,0)) * stat - CAST(n_a AS" +
          " DECIMAL(38,0)) * s) >= abs(CAST(n AS DECIMAL(38,0))" +
          " * obs_sum - CAST(n_a AS DECIMAL(38,0)) * s)"), 1L)
        .otherwise(0L)).as("n_extreme"))
    obs.crossJoin(broadcast(extreme))
      .select(col("n"), col("n_a"), col("s").as("total_sum"),
        col("obs_sum"), lit(b.toLong).as("n_perms"), col("n_extreme"),
        expr(s"(1000000 * (1 + n_extreme)) div (${b}L + 1)")
          .as("p_two_sided_micros"))
  }
  /** Neyman-optimal stratified sample allocation — the survey-sampling
    * answer to "given a labeling/eval budget of `budget` rows, how many
    * from each stratum": n_h ∝ N_h·σ_h minimizes the variance of the
    * stratified mean, so high-variance strata get MORE than their share
    * and homogeneous strata less — the principled upgrade over
    * proportional quota (x81) when a value column measures within-
    * stratum spread. Integer seats via [[largestRemainder]] (x176), so
    * the allocation sums to the budget exactly.
    *
    * Exactness: values quantized once to MILLI units (the iccOneWay
    * bound — squares stay in DECIMAL(38,0)); per-stratum variance in
    * the exact (N·Σx² − S²)/(N(N−1)) form; σ is the ONE IEEE sqrt —
    * correctly rounded by IEEE 754, so bit-identical across engines —
    * rounded once to milli; the seat arithmetic is [[largestRemainder]]
    * verbatim. Singleton and zero-variance strata have σ = 0 and get
    * no seats (Neyman gives them ~none; document at the call site).
    *
    * Scale shape: one stratum-grain aggregation, then the x176
    * bounded-relation machinery. */
  def neymanAllocation(rows: DataFrame, stratumCol: String,
      valueCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val per = rows
      .filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .select(col(stratumCol).cast("string").as("stratum"),
        expr(s"CAST(round(CAST(`$valueCol` AS DOUBLE) * 1000.0, 0)" +
          " AS BIGINT)").as("x"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_rows"), sum(col("x")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"))
      .select(col("stratum"), col("n_rows"),
        when(col("n_rows") < 2, lit(0L))
          .otherwise(expr(
            "CAST(round(sqrt(CAST((CAST(n_rows AS DECIMAL(38,0)) * sx2" +
              " - CAST(sx AS DECIMAL(38,0)) * sx)" +
              " div (CAST(n_rows AS DECIMAL(38,0)) * (n_rows - 1))" +
              " AS DOUBLE)), 0) AS BIGINT)")).as("sigma_milli"))
      .withColumn("neyman_weight",
        expr("CAST(n_rows AS DECIMAL(38,0)) * sigma_milli")
          .cast("long"))
      .localCheckpoint(true) // stratum grain; feeds seats AND output
    largestRemainder(per, "stratum", "neyman_weight", budget)
      .select(col("src").as("stratum"), col("w").as("neyman_weight"),
        col("base"), col("remainder"), col("rem_rank"), col("alloc"))
      .join(per.select(col("stratum"), col("n_rows"),
        col("sigma_milli")), Seq("stratum"))
      .select(col("stratum"), col("n_rows"), col("sigma_milli"),
        col("neyman_weight"), col("base"), col("remainder"),
        col("rem_rank"), col("alloc"))
      .orderBy(col("stratum"))
  }

  /** Hill tail-index estimator over the top-k order statistics — HOW
    * heavy-tailed a positive measure is: α̂⁻¹ = (1/k)Σᵢ₌₁..k ln x₍ᵢ₎ −
    * ln x₍ₖ₊₁₎; α ≈ 1 says a few users/documents carry unbounded mass
    * share (plan for skew-salting), α > 2 says variance exists and
    * means stabilize. The tail-grain companion to x85's Zipf slope
    * (rank-frequency over the WHOLE distribution; Hill reads only the
    * extreme order statistics, where capacity planning lives).
    *
    * Exactness: top-(k+1) by (value desc, deterministic) TakeOrdered;
    * each ln quantized ONCE to micro-nats (round(ln·10⁶) — the x28j
    * libm convention), the mean one truncated division, α one more
    * (⌊10¹²/α̂⁻¹⌋). Fewer than k+1 positive values, or a zero inverse
    * (top values all equal) → NULL α.
    *
    * Scale shape: one filtered TakeOrderedAndProject (k+1 rows leave
    * the scan), then scalar work on k+1 rows. */
  def hillTailIndex(rows: DataFrame, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 100000, s"k must be in [1, 1e5], got $k")
    val top = rows
      .filter(col(valueCol).isNotNull)
      .select(integralLong(valueCol, "hillTailIndex").as("v"))
      .filter(col("v") > 0)
      .orderBy(col("v").desc).limit(k + 1)
      .withColumn("l", expr(
        "CAST(round(log(CAST(v AS DOUBLE)) * 1000000.0, 0) AS BIGINT)"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("v").desc)))
      .localCheckpoint(true) // k+1 rows; feeds the tail ref + the sum
    val ref = top.filter(col("rk") === k + 1)
      .select(col("v").as("x_k1"), col("l").as("l_k1"))
    top.filter(col("rk") <= k)
      .agg(count(lit(1)).as("n_top"), sum(col("l")).as("lsum"))
      .crossJoin(broadcast(ref))
      .select(lit(k.toLong).as("k"), col("x_k1"),
        when(col("n_top") < k, lit(null).cast("long"))
          .otherwise(expr(s"(lsum - ${k}L * l_k1) div ${k}L"))
          .as("hill_inv_micros"))
      .withColumn("alpha_micros",
        when(col("hill_inv_micros").isNull ||
          col("hill_inv_micros") <= 0, lit(null).cast("long"))
          .otherwise(expr("1000000000000L div hill_inv_micros")))
  }

  /** Cochran–Armitage trend test — does a binary rate TREND across
    * ORDERED groups (length buckets, quality deciles, time buckets):
    * T' = Σ s_g·(k_g·N − n_g·K) with integer scores s_g, z² =
    * T'²·N(N−1) / (K(N−K)·(N·Σn s² − (Σn s)²)). The ordered-alternative
    * sharpening of x77's omnibus χ² — a monotone drift in the rate
    * spends all its evidence on one degree of freedom.
    *
    * Exactness: all sums exact in DECIMAL(38,0); z² as TWO chained
    * truncated divisions (⌊⌊10⁶T'²/(K(N−K))⌋·N(N−1)/denom⌋ — the
    * mannWhitneyU recipe). Spark's IntegralDivide emits LONG, so the
    * first quotient is guarded EXACTLY (raise_error wherever
    * 10⁶T'² > Long.Max·K(N−K) — extreme-trend data can get there well
    * inside the N ≈ 10⁷ corpus guard) and re-widened to DECIMAL(38,0)
    * before the N(N−1) multiply. Degenerate margins (K = 0, K = N,
    * single group, zero score variance) → NULL.
    *
    * Scale shape: one (score)-grain aggregation + one scalar reduce. */
  def cochranArmitage(rows: DataFrame, scoreCol: String,
      flagCol: String, maxExactRows: Long = 10000000L): DataFrame = {
    val base = rows
      .filter(col(scoreCol).isNotNull && col(flagCol).isNotNull)
      .select(integralLong(scoreCol, "cochranArmitage").as("s"),
        when(col(flagCol).cast("boolean"), 1L).otherwise(0L).as("f"))
    val per = base.groupBy(col("s"))
      .agg(count(lit(1)).as("n_g"), sum(col("f")).as("k_g"))
      .localCheckpoint(true)
    val tot = per.agg(sum(col("n_g")).as("nn"), sum(col("k_g")).as("kk"),
      count(lit(1)).as("n_groups"))
    per.crossJoin(broadcast(tot))
      .agg(first(col("nn")).as("n"), first(col("kk")).as("k_pos"),
        first(col("n_groups")).as("n_groups"),
        sum(expr("CAST(s AS DECIMAL(38,0))" +
          " * (CAST(k_g AS DECIMAL(38,0)) * nn" +
          " - CAST(n_g AS DECIMAL(38,0)) * kk)")).as("t_prime"),
        sum(expr("CAST(n_g AS DECIMAL(38,0)) * s * s")).as("ns2"),
        sum(expr("CAST(n_g AS DECIMAL(38,0)) * s")).as("ns"))
      .select(col("n"), col("k_pos"), col("n_groups"),
        col("t_prime").cast("long").as("t_prime"),
        when(col("n") > maxExactRows, expr(
          "raise_error('cochranArmitage: exact-arithmetic bound" +
            " exceeded (N > maxExactRows); pre-bucket the score')"))
          // Spark's IntegralDivide always emits LONG: the first
          // quotient 10⁶T'²/(K(N−K)) can reach ~10²⁴ on extreme-trend
          // data well inside maxExactRows, so guard on the EXACT
          // quantities rather than trusting the documented bound
          .when(expr("1000000 * t_prime * CAST(t_prime AS" +
            " DECIMAL(38,0))" +
            " > CAST(9223372036854775807 AS DECIMAL(38,0))" +
            " * (CAST(k_pos AS DECIMAL(38,0)) * (n - k_pos))"), expr(
            "raise_error('cochranArmitage: LONG-safe intermediate" +
              " bound exceeded (10^6*T_prime^2 div K(N-K) overflows" +
              " BIGINT); coarsen the score buckets')"))
          .when(col("k_pos") === 0 || col("k_pos") === col("n") ||
            expr("CAST(n AS DECIMAL(38,0)) * ns2 - ns * ns") === 0,
            lit(null).cast("long"))
          // re-widen the LONG quotient before the N(N−1) multiply —
          // the iccOneWay recipe, keeping the chain in DECIMAL(38,0)
          .otherwise(expr(
            "CAST((CAST((1000000 * t_prime * CAST(t_prime AS" +
              " DECIMAL(38,0)))" +
              " div (CAST(k_pos AS DECIMAL(38,0)) * (n - k_pos))" +
              " AS DECIMAL(38,0))" +
              " * (CAST(n AS DECIMAL(38,0)) * (n - 1)))" +
              " div (CAST(n AS DECIMAL(38,0)) * ns2 - ns * ns)" +
              " AS BIGINT)")).as("z_sq_micros"))
  }

  /** Durbin–Watson statistic over an ordered series — the first-lag
    * autocorrelation read in its classic regression-diagnostic form:
    * DW = Σ(Δx)²/Σ(x − x̄)² ≈ 2(1 − ρ₁); DW ≪ 2 says successive days
    * move together (drift, regime persistence), DW ≈ 2 white noise,
    * DW > 2 alternation. Beside x131's autocorrelation (same quantity,
    * correlation form) and x185's runs test (sign form).
    *
    * Exactness: cross-multiplied to clear the rational mean — DW =
    * n²·Σ(Δx)² / Σ(n·x − S)², exact integers in DECIMAL(38,0), one
    * truncated division to micros. Zero variance → NULL.
    *
    * Scale shape: expects the AGGREGATED series (day grain); one lag
    * window over the bounded series (single-partition, documented),
    * one scalar reduce. */
  def durbinWatson(series: DataFrame, xCol: String,
      valueCol: String): DataFrame = {
    val base = series
      .filter(col(xCol).isNotNull && col(valueCol).isNotNull)
      .select(col(xCol).as("x"),
        integralLong(valueCol, "durbinWatson").as("v"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
    base
      .withColumn("dv", col("v") - lag(col("v"), 1).over(wOrd))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(expr("CAST(dv AS DECIMAL(38,0)) * dv")).as("sd2"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("sv2"))
      .select(col("n"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST((1000000 * CAST(sv AS DECIMAL(38,0)))" +
            " div n AS BIGINT)")).as("mean_micros"),
        // Σ(n·x − S)² = n·(n·Σx² − S²)
        when(expr("CAST(n AS DECIMAL(38,0)) * sv2" +
            " - CAST(sv AS DECIMAL(38,0)) * sv") <= 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000 * CAST(n AS DECIMAL(38,0)) * coalesce(sd2, 0))" +
              " div (CAST(n AS DECIMAL(38,0)) * sv2" +
              " - CAST(sv AS DECIMAL(38,0)) * sv) AS BIGINT)"))
          .as("dw_micros"))
  }

  /** G-test (log-likelihood-ratio χ²) of per-source categorical drift —
    * G = 2ΣO·ln(O/E) against the corpus-wide distribution: the
    * information-theoretic twin of x77's Pearson χ² (G IS 2N·KL(obs‖exp)
    * in nats), better behaved when expected cell counts are small and
    * additive across nested slicings. Zero cells contribute exactly 0
    * (lim x·ln x = 0), so only OBSERVED cells are scanned — no grid.
    *
    * Exactness: per-cell log-ratio ln(O·N/(n_s·n_c)) evaluated as ONE
    * written-out IEEE sequence (cast, multiply, divide, divide — the
    * x28j convention) and quantized once to micro-nats; the per-source
    * term 2·O·l and all sums are exact integers after that. Per-source
    * terms are SIGNED (an everywhere-under-represented source sums
    * negative); the corpus G ≥ 0 broadcasts onto every row.
    *
    * Scale shape: one (source, category) aggregation; margins
    * broadcast; no window, no grid join. */
  def gTestDrift(docs: DataFrame, srcCol: String,
      catCol: String): DataFrame = {
    val base = docs
      .filter(col(srcCol).isNotNull && col(catCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        col(catCol).cast("string").as("cat"))
    val cell = base.groupBy(col("src"), col("cat"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint(true) // cell grain; feeds margins AND the terms
    val ns = cell.groupBy(col("src")).agg(sum(col("o")).as("n_s"))
    val nc = cell.groupBy(col("cat")).agg(sum(col("o")).as("n_c"))
    val tot = cell.agg(sum(col("o")).as("nn"),
      count_distinct(col("src")).as("n_srcs"),
      count_distinct(col("cat")).as("n_cats"))
    val terms = cell
      .join(broadcast(ns), Seq("src"))
      .join(broadcast(nc), Seq("cat"))
      .crossJoin(broadcast(tot))
      .select(col("src"), col("n_s"), col("n_srcs"), col("n_cats"),
        (lit(2L) * col("o") * expr(
          "CAST(round(log(((CAST(o AS DOUBLE) * nn) / n_s) / n_c)" +
            " * 1000000.0, 0) AS BIGINT)")).as("t"))
    val perSrc = terms
      .groupBy(col("src"))
      .agg(first(col("n_s")).as("n_docs"),
        (first(col("n_srcs")) - 1).as("dof_src"),
        (first(col("n_cats")) - 1).as("dof_cat"),
        sum(col("t")).as("g_term_micros"))
      .localCheckpoint(true) // source grain; feeds corpus G + output
    val overall = perSrc.agg(sum(col("g_term_micros")).as("g_micros"))
    perSrc.crossJoin(broadcast(overall))
      .select(col("src").as("source"), col("n_docs"),
        (col("dof_src") * col("dof_cat")).as("dof"),
        col("g_term_micros"), col("g_micros"))
      .orderBy(col("source"))
  }
  /** Dunn's post-hoc pairwise rank tests — WHICH group pairs differ,
    * after kruskalWallis (x179) said SOME do: for every (g, h) pair,
    * z² of the mean-rank difference against the pooled tie-corrected
    * rank variance. The multiple-comparison companion: feed the z²
    * column to bhFdr/multipleTestingStepdown for the corrected
    * verdicts.
    *
    * Exactness: doubled midranks via the x121 identity over the pooled
    * distinct-value relation (the x159/x179 machinery verbatim); the
    * pair statistic cross-multiplied — num = r2_g·n_h − r2_h·n_g, z² =
    * 3·10⁶·⌊num²/(n_g·n_h)⌋·(N−1) / ((n_g+n_h)·(N(N+1)(N−1) − T)) as
    * two chained truncated divisions; the first quotient is re-widened
    * to DECIMAL(38,0) (Spark's IntegralDivide emits LONG) and an EXACT
    * guard raises wherever num² > Long.Max·n_g·n_h — the quotient
    * itself would overflow BIGINT there — so no intermediate can wrap
    * silently anywhere below the documented N ≈ 2·10⁶ corpus bound.
    * Zero pooled variance → NULL.
    *
    * Scale shape: per-value counts one aggregation; the cumulative
    * pass at VALUE cardinality; groups reduce to (grp, n, r2) and the
    * pair join is a broadcast over the GROUP-grain relation. */
  def dunnPostHoc(rows: DataFrame, groupCol: String, valueCol: String,
      maxExactRows: Long = 2000000L): DataFrame = {
    val base = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        integralLong(valueCol, "dunnPostHoc").as("v"))
    val byGV = base.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // cell grain; feeds pooled AND rank sums
    val pooled = byGV.groupBy(col("v")).agg(sum(col("c")).as("pc"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = pooled
      .withColumn("cb", coalesce(sum(col("pc")).over(wOrd), lit(0L)))
      .localCheckpoint(true) // value grain; feeds tie term AND ranks
    val tie = cum.agg(
      coalesce(sum(expr("CAST(pc AS DECIMAL(38,0)) * pc * pc - pc")),
        lit(0L).cast("decimal(38,0)")).as("t"))
    val per = byGV.join(cum.select(col("v"), col("pc"), col("cb")),
        Seq("v"))
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n_g"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (2 * cb + pc + 1)"))
          .as("r2"))
      .localCheckpoint(true) // group grain; both sides of the pair join
    val tot = per.agg(sum(col("n_g")).as("nn"))
    per.as("a")
      .join(broadcast(per.as("b")), col("a.grp") < col("b.grp"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(tie))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        col("a.n_g").as("n_a"), col("b.n_g").as("n_b"),
        expr("CAST((1000000 * a.r2) div (2 * CAST(a.n_g AS" +
          " DECIMAL(38,0))) AS BIGINT)").as("mean_rank_a_micros"),
        expr("CAST((1000000 * b.r2) div (2 * CAST(b.n_g AS" +
          " DECIMAL(38,0))) AS BIGINT)").as("mean_rank_b_micros"),
        when(col("nn") > maxExactRows, expr(
          "raise_error('dunnPostHoc: exact-arithmetic bound exceeded" +
            " (N > maxExactRows); pre-bucket the measure')"))
          // Spark's IntegralDivide always emits LONG, so the num²/(n·n)
          // quotient must itself fit BIGINT — provably true only to
          // N ≈ 5·10⁴ in the adversarial case, so guard on the EXACT
          // data at hand rather than overstating the documented bound
          .when(expr("(a.r2 * b.n_g - b.r2 * a.n_g)" +
            " * (a.r2 * b.n_g - b.r2 * a.n_g)" +
            " > CAST(9223372036854775807 AS DECIMAL(38,0))" +
            " * (CAST(a.n_g AS DECIMAL(38,0)) * b.n_g)"), expr(
            "raise_error('dunnPostHoc: LONG-safe intermediate bound" +
              " exceeded (num^2 div n_a*n_b overflows BIGINT);" +
              " pre-bucket the measure')"))
          .when(expr("CAST(nn AS DECIMAL(38,0)) * (nn + 1) * (nn - 1)" +
            " - t") <= 0, lit(null).cast("long"))
          // re-widen the LONG quotient to DECIMAL(38,0) before the
          // 3000000·(N−1) multiply (the iccOneWay recipe) — left as
          // LONG it wraps at N ≈ 10³, far below maxExactRows
          .otherwise(expr(
            "CAST((3000000 * CAST((a.r2 * b.n_g - b.r2 * a.n_g)" +
              " * (a.r2 * b.n_g - b.r2 * a.n_g)" +
              " div (CAST(a.n_g AS DECIMAL(38,0)) * b.n_g)" +
              " AS DECIMAL(38,0))" +
              " * (nn - 1))" +
              " div ((CAST(a.n_g AS DECIMAL(38,0)) + b.n_g)" +
              " * (CAST(nn AS DECIMAL(38,0)) * (nn + 1) * (nn - 1) - t))" +
              " AS BIGINT)")).as("z_sq_micros"))
      .orderBy(col("grp_a"), col("grp_b"))
  }

  /** Empirical-Bernstein confidence bound per group — "how far can
    * this slice's mean move at this sample size": with probability
    * ≥ 1−δ, |x̄ − μ| ≤ √(2·v̂·ln(3/δ)/n) + 3·R·ln(3/δ)/n (Maurer &
    * Pontil 2009) — the variance-ADAPTIVE bound that beats Hoeffding
    * wherever the slice is calmer than its range, and the honest
    * error bar a curation dashboard attaches to every per-source mean
    * (x125's Wilson bounds are its proportion-valued sibling).
    *
    * Exactness: n, S, range and the variance numerator are exact
    * integers; the bound is ONE written-out IEEE sequence (divide,
    * multiply, sqrt, add — mirrored character-for-character, with
    * ln(3/δ) shipped as a shortest-round-trip double literal, the
    * bm25 constant convention) quantized once to micros. n < 2 →
    * NULL bound.
    *
    * Scale shape: one group-grain aggregation; no windows, no joins. */
  def empiricalBernstein(rows: DataFrame, groupCol: String,
      valueCol: String, delta: Double = 0.05): DataFrame = {
    require(delta > 0 && delta < 1, s"delta must be in (0,1), got $delta")
    val lLit = java.lang.Double.toString(math.log(3.0 / delta))
    rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        integralLong(valueCol, "empiricalBernstein").as("x"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"),
        (max(col("x")) - min(col("x"))).as("val_range"))
      .select(col("grp"), col("n"), col("val_range"),
        expr("CAST((1000000 * CAST(sx AS DECIMAL(38,0))) div n" +
          " AS BIGINT)").as("mean_micros"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr(
            s"CAST(round((sqrt((2.0 * (CAST(CAST(n AS DECIMAL(38,0))" +
              s" * sx2 - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)" +
              s" / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))" +
              s" * CAST($lLit AS DOUBLE)) / CAST(n AS DOUBLE))" +
              s" + (3.0 * CAST(val_range AS DOUBLE)" +
              s" * CAST($lLit AS DOUBLE)) / CAST(n AS DOUBLE))" +
              s" * 1000000.0, 0) AS BIGINT)")).as("bound_micros"))
      .select(col("grp"), col("n"), col("val_range"), col("mean_micros"),
        col("bound_micros"),
        (col("mean_micros") - col("bound_micros")).as("lo_micros"),
        (col("mean_micros") + col("bound_micros")).as("hi_micros"))
      .orderBy(col("grp"))
  }
  /** Borda-count rank fusion — the positional-voting alternative to
    * [[reciprocalRankFusion]]: each list awards poolK+1−rank points,
    * absent items score 0, fused order by total points (ties by
    * c_id). RRF's 1/(k+rank) discounts depth harshly and is robust to
    * one bad list; Borda weights all depths linearly and rewards broad
    * consensus — running both and comparing (x193's RBO measures how
    * much they disagree) is the standard fusion ablation.
    *
    * Exactness: pure integer points; no division anywhere. Input
    * convention identical to RRF: (q_id, c_id, rank) per list.
    *
    * Scale shape: one union + one (q, c) aggregation + a per-query
    * top-k window — identical to RRF's. */
  def bordaFusion(rankings: Seq[DataFrame], poolK: Int,
      topK: Int = 5): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(poolK >= 1 && topK >= 1,
      s"need poolK/topK >= 1, got $poolK/$topK")
    val contribs = rankings.map {
      _.select(col("q_id"), col("c_id"),
        (lit(poolK.toLong) + 1L - col("rank")).cast("long").as("points"))
        .filter(col("points") > 0)
    }.reduce(_ unionAll _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("borda_score").desc, col("c_id"))
    contribs
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("points")).as("borda_score"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
  }

  /** Kendall's W — coefficient of concordance across m integer quality
    * signals ranking the SAME items: W = 1 means the signals induce
    * one ordering (fusing them adds nothing), W ≈ 0 means they measure
    * different things (fusion like x69's is earning its keep). The
    * agreement read ACROSS SIGNALS, as Krippendorff/Fleiss read
    * agreement across raters. Tie-corrected.
    *
    * Exactness: per-signal DOUBLED midranks via the x121 identity over
    * each signal's distinct-value relation; with R2ᵢ = 2Rᵢ the
    * statistic is W = 3·Σ(R2ᵢ − m(n+1))² / (m²(n³−n) − m·ΣT), exact in
    * DECIMAL(38,0) and truncated once to micros; χ² = m(n−1)·W (the
    * Friedman link) one more truncation. A raise_error guard bounds n
    * (the deviation square sum is O(m²n³)). Fully-tied signals →
    * zero denominator → NULL.
    *
    * Scale shape: per signal one distinct-value aggregation + one
    * single-partition cumulative window at value cardinality; one
    * (signal, value) join back to items; one item-grain rollup. */
  def kendallW(rows: DataFrame, idCol: String,
      valueCols: Seq[String], maxExactRows: Long = 1000000L): DataFrame = {
    require(valueCols.size >= 2, "need at least two signals")
    val m = valueCols.size
    val melt = valueCols.zipWithIndex.map { case (c, j) =>
      rows.filter(col(idCol).isNotNull && col(c).isNotNull)
        .select(col(idCol).as("id"), lit(j).as("sig"),
          integralLong(c, "kendallW").as("v"))
    }.reduce(_ unionByName _)
      .localCheckpoint(true) // feeds the value counts AND the rank join
    val bySV = melt.groupBy(col("sig"), col("v"))
      .agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sig")).orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = bySV
      .withColumn("cb", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .localCheckpoint(true) // feeds the tie term AND the rank join
    val tie = ranked.agg(coalesce(
      sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")),
      lit(0L).cast("decimal(38,0)")).as("t"))
    val perItem = melt.join(ranked, Seq("sig", "v"))
      .groupBy(col("id"))
      .agg(sum(expr("2 * cb + c + 1")).as("r2"))
    val tot = perItem.agg(count(lit(1)).as("n"))
    perItem.crossJoin(broadcast(tot)).crossJoin(broadcast(tie))
      .agg(first(col("n")).as("n"), first(col("t")).as("t"),
        sum(expr(s"(CAST(r2 AS DECIMAL(38,0)) - ${m}L * (n + 1))" +
          s" * (CAST(r2 AS DECIMAL(38,0)) - ${m}L * (n + 1))"))
          .as("s4"))
      .select(col("n"), lit(m.toLong).as("m"),
        when(col("n") > maxExactRows, expr(
          "raise_error('kendallW: exact-arithmetic bound exceeded" +
            " (n > maxExactRows); pre-bucket the signals')"))
          .when(expr(s"${m}L * ${m}L * (CAST(n AS DECIMAL(38,0)) * n * n" +
            s" - n) - ${m}L * t") <= 0, lit(null).cast("long"))
          .otherwise(expr(
            s"CAST((3000000 * s4) div (${m}L * ${m}L" +
              s" * (CAST(n AS DECIMAL(38,0)) * n * n - n) - ${m}L * t)" +
              s" AS BIGINT)")).as("w_micros"))
      .withColumn("chi2_micros",
        when(col("w_micros").isNull, lit(null).cast("long"))
          .otherwise(expr(s"(${m}L * (n - 1) * w_micros)")))
  }

  /** Quantile–quantile shift profile between two groups — WHERE in the
    * distribution they differ: per decile p10..p90, each group's exact
    * order statistic and the difference. A mean shift, a tail-only
    * shift, and a variance change all move x159's z² — this shows
    * WHICH; the two-sample face of [[winsorizedStats]]' one-sample
    * order statistics and the distribution-grain read under x180's
    * single Hodges–Lehmann shift number.
    *
    * Exactness: order statistics off [[groupOrderStats]]' distinct-
    * value cumulative relation at rank ⌈p·n/100⌉ (the double rank
    * arithmetic is exact while n·p < 2⁵³); the shift a plain integer
    * difference.
    *
    * Scale shape: groupOrderStats verbatim — distinct-value cumulative
    * pass per group, never a per-group sort of raw rows. */
  def qqShift(rows: DataFrame, isACol: String,
      valueCol: String): DataFrame = {
    val base = rows
      .filter(col(isACol).isNotNull && col(valueCol).isNotNull)
      .select(when(col(isACol).cast("boolean"), "a").otherwise("b")
        .as("side"), col(valueCol).as("v"))
    val deciles: Seq[(String, Column => Column)] =
      (1 to 9).map { d =>
        val pct = d * 10
        (pct.toString,
          (n: Column) => floor((n * pct + 99L) / 100.0).cast("long"))
      }
    val os = groupOrderStats(base, "side", "v", deciles, "qqShift")
    val a = os.filter(col("grp") === "a")
      .select(col("stat"), col("n").as("n_a"), col("value").as("q_a"))
    val b = os.filter(col("grp") === "b")
      .select(col("stat"), col("n").as("n_b"), col("value").as("q_b"))
    a.join(b, Seq("stat"))
      .select(expr("CAST(stat AS BIGINT)").as("pct"), col("n_a"),
        col("n_b"), col("q_a"), col("q_b"),
        (col("q_a") - col("q_b")).as("shift"))
      .orderBy(col("pct"))
  }

  /** Theil T inequality index with its within/between-group
    * decomposition — the property Gini (x197) lacks: T_total =
    * T_between + T_within ADDITIVELY, so "is corpus-mass inequality a
    * between-source phenomenon (one crawl dwarfs the rest) or a
    * within-source one (every crawl has its own whales)" gets a
    * numeric answer, which decides whether rebalancing should happen
    * at the mixer (x39) or inside each source (x31e caps).
    *
    * Exactness: both sums follow the x28j integer-quantization rule —
    * each term is ONE written-out IEEE chain (c·v/S · ln(N·v/S),
    * value grain; (S_g/S)·ln((S_g/S)·(N/N_g)), group grain) rounded
    * to micros per term, then EXACT integer sums, so partitioning
    * cannot move the result. T_within is exported via the
    * decomposition identity (total − between) — exact in real
    * arithmetic, within 1 micro·n_terms of the direct sum under
    * per-term rounding (documented, not hidden). Zero/negative values
    * are excluded (ln domain); S = 0 → NULL row.
    *
    * Scale shape: one (group, value)-grain aggregation feeding a
    * value-grain and a group-grain reduce — no windows, no joins
    * beyond 1-row broadcasts. */
  def theilIndex(rows: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val per = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        integralLong(valueCol, "theilIndex").as("v"))
      .filter(col("v") > 0)
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // cell grain; feeds 3 reduces
    val tot = per.agg(sum(col("c")).as("n"),
      sum(expr("CAST(c AS DECIMAL(38,0)) * v")).as("s"))
    val totalT = per.groupBy(col("v"))
      .agg(sum(col("c")).as("c"))
      .crossJoin(broadcast(tot))
      .agg(coalesce(sum(expr(
        "CAST(round(1000000.0 * (CAST(c AS DOUBLE) * CAST(v AS DOUBLE)" +
          " / CAST(s AS DOUBLE))" +
          " * ln(CAST(n AS DOUBLE) * CAST(v AS DOUBLE)" +
          " / CAST(s AS DOUBLE))) AS BIGINT)")), lit(0L))
        .as("theil_total_micros"))
    val betweenT = per.groupBy(col("grp"))
      .agg(sum(col("c")).as("n_g"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * v")).as("s_g"))
      .crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_groups"), coalesce(sum(expr(
        "CAST(round(1000000.0 * (CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))" +
          " * ln((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) / CAST(n_g AS DOUBLE)))) AS BIGINT)")),
        lit(0L)).as("theil_between_micros"))
    tot.crossJoin(broadcast(totalT)).crossJoin(broadcast(betweenT))
      .select(col("n"), col("n_groups"),
        when(col("s") <= 0, lit(null).cast("long"))
          .otherwise(col("theil_total_micros")).as("theil_total_micros"),
        when(col("s") <= 0, lit(null).cast("long"))
          .otherwise(col("theil_between_micros"))
          .as("theil_between_micros"),
        when(col("s") <= 0, lit(null).cast("long"))
          .otherwise(col("theil_total_micros") -
            col("theil_between_micros")).as("theil_within_micros"))
  }

  /** Bowker's test of symmetry over a paired-label count matrix — the
    * k×k generalization of McNemar (x162): χ²_B = Σ_{i<j}
    * (n_ij − n_ji)²/(n_ij + n_ji), df = #{unordered pairs with
    * n_ij + n_ji > 0}. On a transition matrix it asks "is traffic
    * between states symmetric, or is there a net drift direction" —
    * a one-number read the full matrix (x89) buries in k² cells.
    *
    * Exactness: pure integer counts; each pair term is one truncated
    * division to micros ((10⁶·(n_ij−n_ji)²) div (n_ij+n_ji)), then an
    * exact integer sum (per-pair truncation documented). Diagonal
    * cells never contribute (i < j strict). No off-diagonal mass →
    * NULL χ².
    *
    * Scale shape: expects the COUNT matrix (k² rows at most); the
    * symmetry pairing is a broadcast self-join at matrix grain, then
    * one scalar reduce. */
  def bowkerSymmetry(counts: DataFrame, aCol: String, bCol: String,
      nCol: String): DataFrame = {
    val m = counts
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("i"),
        col(bCol).cast("string").as("j"), col(nCol).cast("long").as("c"))
      .localCheckpoint(true) // matrix grain; both sides of the pairing
    val paired = m.as("x")
      .join(broadcast(m.as("y")),
        col("x.i") === col("y.j") && col("x.j") === col("y.i"),
        "full_outer")
      .select(coalesce(col("x.i"), col("y.j")).as("i"),
        coalesce(col("x.j"), col("y.i")).as("j"),
        coalesce(col("x.c"), lit(0L)).as("nij"),
        coalesce(col("y.c"), lit(0L)).as("nji"))
      .filter(col("i") < col("j"))
    paired.agg(
        coalesce(sum(col("nij") + col("nji")), lit(0L)).as("n_offdiag"),
        count(lit(1)).as("df"),
        sum(expr("(1000000 * CAST(nij - nji AS DECIMAL(38,0))" +
          " * (nij - nji)) div (nij + nji)")).as("chi2"))
      .select(col("n_offdiag"), col("df"),
        when(col("df") === 0, lit(null).cast("long"))
          .otherwise(col("chi2")).as("bowker_chi2_micros"))
  }

  /** Hill-number diversity profile of group mass — q = 0 (richness),
    * q = 1 (exp Shannon, the "effective number of equally-sized
    * sources"), q = 2 (inverse Simpson, dominance-weighted) plus
    * Pielou evenness: the one profile that unifies x136's richness
    * estimate, entropy, and x128's concentration into comparable
    * units (all three are "effective source counts", increasingly
    * dominated by the large sources as q grows; q1/q0 falling says
    * the tail is thin, q2/q1 falling says one source dominates).
    *
    * Exactness: q0 and q2 are exact integer arithmetic (q2 =
    * 10⁶·S²/ΣS_g², one truncated DECIMAL division); Shannon follows
    * the x28j rule (per-group term rounded to micro-nats, exact sum);
    * q1 and evenness spend one IEEE exp/ln each on the already-
    * quantized integer (deterministic — the input is an integer, not
    * a float sum). Single group → evenness NULL.
    *
    * Scale shape: one group-grain aggregation, two scalar reduces —
    * no windows, no joins beyond 1-row broadcasts. */
  def hillDiversity(rows: DataFrame, groupCol: String,
      massCol: String): DataFrame = {
    val per = rows
      .filter(col(groupCol).isNotNull && col(massCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        integralLong(massCol, "hillDiversity").as("v"))
      .filter(col("v") > 0)
      .groupBy(col("grp"))
      .agg(sum(expr("CAST(v AS DECIMAL(38,0))")).as("s_g"))
      .localCheckpoint(true) // group grain; feeds both reduces
    val tot = per.agg(count(lit(1)).as("k"), sum(col("s_g")).as("s"),
      sum(expr("s_g * s_g")).as("s2"))
    per.crossJoin(broadcast(tot))
      .agg(first(col("k")).as("q0"), first(col("s")).as("s"),
        first(col("s2")).as("s2"),
        coalesce(sum(expr(
          "CAST(round(1000000.0 * (CAST(s_g AS DOUBLE) / CAST(s AS" +
            " DOUBLE)) * ln(CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE)))" +
            " AS BIGINT)")), lit(0L)).as("neg_h"))
      .select(col("q0"),
        (-col("neg_h")).as("shannon_micros"),
        expr("CAST(round(1000000.0 * exp(CAST(-neg_h AS DOUBLE)" +
          " / 1000000.0)) AS BIGINT)").as("hill_q1_micros"),
        when(col("s2") <= 0, lit(null).cast("long"))
          .otherwise(expr("CAST((1000000 * s * s) div s2 AS BIGINT)"))
          .as("hill_q2_micros"),
        when(col("q0") < 2, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(round(1000000.0 * (CAST(-neg_h AS DOUBLE) / 1000000.0)" +
              " / ln(CAST(q0 AS DOUBLE))) AS BIGINT)"))
          .as("evenness_micros"))
  }

  /** Bland–Altman agreement between two integer-valued measurements
    * of the same quantity — bias (mean difference), SD of differences,
    * and the 95% limits of agreement (bias ± 1.96·SD), with the count
    * of units outside them: the CONTINUOUS-measure agreement read that
    * κ (x158/x99/x167) cannot give — two length/quality signals can
    * correlate strongly (x122) yet disagree by a systematic offset or
    * a huge spread, and this is the instrument that says which.
    *
    * Exactness: differences are exact integers; bias one truncated
    * division to micros; SD the exact (N·Σd² − S²)/(N(N−1)) numerator
    * in DECIMAL(38,0) with ONE IEEE sqrt floored to micros; the LoA
    * bounds are integer micro arithmetic off those two (1.96 exact at
    * this grain: round(1.96·sd_micros)); the outside-count compares
    * 10⁶·d against the integer bounds. n < 2 → NULL spread columns.
    *
    * Scale shape: one scalar reduce + one broadcast-bounds re-scan
    * for the outside count — no windows, no sorts. */
  def blandAltman(rows: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val base = rows
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((integralLong(xCol, "blandAltman") -
        integralLong(yCol, "blandAltman")).as("d"))
      .localCheckpoint(true) // difference grain; stats AND outside count
    val stats = base.agg(count(lit(1)).as("n"),
        sum(expr("CAST(d AS DECIMAL(38,0))")).as("sd_sum"),
        sum(expr("CAST(d AS DECIMAL(38,0)) * d")).as("sq"))
      .select(col("n"),
        // sign-explicit truncation: d̄ can be negative, and Spark div
        // truncates where DuckDB // floors — abs() makes both truncate
        expr("CAST(sign(sd_sum) * ((1000000 * abs(sd_sum)) div n)" +
          " AS BIGINT)").as("bias_micros"),
        when(col("n") < 2, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(floor(1000000.0 * sqrt(CAST(CAST(n AS DECIMAL(38,0))" +
              " * sq - sd_sum * sd_sum AS DOUBLE)" +
              " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))" +
              " AS BIGINT)")).as("sd_micros"))
      .select(col("n"), col("bias_micros"), col("sd_micros"),
        when(col("sd_micros").isNull, lit(null).cast("long"))
          .otherwise(col("bias_micros") -
            expr("CAST(round(1.96 * sd_micros) AS BIGINT)"))
          .as("loa_lo_micros"),
        when(col("sd_micros").isNull, lit(null).cast("long"))
          .otherwise(col("bias_micros") +
            expr("CAST(round(1.96 * sd_micros) AS BIGINT)"))
          .as("loa_hi_micros"))
    base.crossJoin(broadcast(stats))
      .agg(first(col("n")).as("n"), first(col("bias_micros")).as("bias_micros"),
        first(col("sd_micros")).as("sd_micros"),
        first(col("loa_lo_micros")).as("loa_lo_micros"),
        first(col("loa_hi_micros")).as("loa_hi_micros"),
        sum(when(col("loa_lo_micros").isNotNull &&
          expr("1000000 * d") < col("loa_lo_micros"), 1L).otherwise(0L))
          .as("n_below"),
        sum(when(col("loa_hi_micros").isNotNull &&
          expr("1000000 * d") > col("loa_hi_micros"), 1L).otherwise(0L))
          .as("n_above"))
  }

  /** Newcombe hybrid-score confidence interval for a DIFFERENCE of two
    * proportions — the A/B-comparison companion to x125's per-group
    * Wilson bounds: d = p₁ − p₂ with CI [d − √((p₁−l₁)² + (u₂−p₂)²),
    * d + √((u₁−p₁)² + (p₂−l₂)²)] from the per-arm Wilson intervals
    * (Newcombe 1998, method 10) — the standard "is the en-rate
    * actually different between these two slices" answer with correct
    * small-sample behavior, where a naive Wald interval collapses.
    *
    * Exactness: per-arm Wilson bounds replay x125's written-out IEEE
    * chain, FLOORED to micros (both bounds — deterministic, one-sided
    * conservative on the lower edge, documented); the Newcombe
    * radicals are IEEE sqrt over exact integer micro deltas (< 2⁵³),
    * floored once. Either arm empty → empty result (no row to price).
    *
    * Scale shape: one two-group aggregation, one scalar join of two
    * 1-row relations. */
  def newcombeDiff(rows: DataFrame, armACol: String,
      labelCol: String): DataFrame = {
    val per = rows
      .filter(col(armACol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(armACol).cast("boolean").as("arm_a"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("pos"))
      .withColumn("p_micros", expr("(1000000 * pos) div n"))
      .withColumn("wl", expr(
        "CAST(floor(1000000.0 * (((CAST(pos AS DOUBLE) + 1.96*1.96/2.0)" +
          " / CAST(n AS DOUBLE) - (1.96 / CAST(n AS DOUBLE)) *" +
          " sqrt(CAST(pos AS DOUBLE) * (CAST(n AS DOUBLE) -" +
          " CAST(pos AS DOUBLE)) / CAST(n AS DOUBLE) + 1.96*1.96/4.0))" +
          " / (1.0 + 1.96*1.96 / CAST(n AS DOUBLE)))) AS BIGINT)"))
      .withColumn("wu", expr(
        "CAST(floor(1000000.0 * (((CAST(pos AS DOUBLE) + 1.96*1.96/2.0)" +
          " / CAST(n AS DOUBLE) + (1.96 / CAST(n AS DOUBLE)) *" +
          " sqrt(CAST(pos AS DOUBLE) * (CAST(n AS DOUBLE) -" +
          " CAST(pos AS DOUBLE)) / CAST(n AS DOUBLE) + 1.96*1.96/4.0))" +
          " / (1.0 + 1.96*1.96 / CAST(n AS DOUBLE)))) AS BIGINT)"))
    val a = per.filter(col("arm_a"))
      .select(col("n").as("n1"), col("pos").as("pos1"),
        col("p_micros").as("p1"), col("wl").as("l1"), col("wu").as("u1"))
    val b = per.filter(!col("arm_a"))
      .select(col("n").as("n2"), col("pos").as("pos2"),
        col("p_micros").as("p2"), col("wl").as("l2"), col("wu").as("u2"))
    a.crossJoin(broadcast(b))
      .select(col("n1"), col("pos1"), col("n2"), col("pos2"),
        col("p1").as("p1_micros"), col("p2").as("p2_micros"),
        (col("p1") - col("p2")).as("diff_micros"),
        expr("p1 - p2 - CAST(floor(sqrt(CAST((p1 - l1) * (p1 - l1)" +
          " + (u2 - p2) * (u2 - p2) AS DOUBLE))) AS BIGINT)")
          .as("ci_lo_micros"),
        expr("p1 - p2 + CAST(floor(sqrt(CAST((u1 - p1) * (u1 - p1)" +
          " + (p2 - l2) * (p2 - l2) AS DOUBLE))) AS BIGINT)")
          .as("ci_hi_micros"))
  }

  /** Per-group two-proportion sample-size requirement — "how many
    * labeled rows per arm would an A/B test need to detect a
    * `liftPerMille` relative change in this group's base rate at
    * α = 0.05 (two-sided), power = 0.8": n = ⌈(z_{α/2}·√(2p̄q̄) +
    * z_β·√(p₁q₁+p₂q₂))² / δ²⌉, the classic normal-approximation
    * formula. The PLANNING op of the eval shelf: x125/x213 price an
    * interval after the fact, this says what collecting one costs —
    * per group, since the rare-rate slices are exactly where the
    * budget explodes.
    *
    * Exactness: p̂ enters as exact truncated micros (never a float
    * ratio of floats); the formula is ONE written-out IEEE chain per
    * group with z literals shipped shortest-round-trip
    * (1.959963984540054, 0.8416212335729143), ceiling once to a row
    * count. Degenerate groups (p̂ = 0, or target rate ≥ 1) → NULL.
    *
    * Scale shape: one group-grain aggregation, row-local arithmetic
    * after — no joins, no windows. */
  def requiredSampleSize(rows: DataFrame, groupCol: String,
      labelCol: String, liftPerMille: Int): DataFrame = {
    require(liftPerMille >= 1 && liftPerMille <= 1000,
      s"liftPerMille must be in [1, 1000], got $liftPerMille")
    rows
      .filter(col(groupCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("pos"))
      .select(col("grp"), col("n"), col("pos"),
        expr("(1000000 * pos) div n").as("p_micros"),
        expr(s"((1000 + $liftPerMille) * ((1000000 * pos) div n))" +
          " div 1000").as("p2_micros"))
      .withColumn("n_required_per_arm",
        // p2 = p1 happens when the relative lift truncates to zero at
        // micro grain (tiny base rates) — the δ² denominator would be
        // zero and the IEEE chain would cast infinity
        when(col("pos") === 0 || col("p2_micros") >= 1000000L ||
          col("p2_micros") === col("p_micros"),
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST(ceil((1.959963984540054 * sqrt(2.0 *" +
              " ((CAST(p_micros AS DOUBLE) + CAST(p2_micros AS DOUBLE))" +
              " / 2000000.0) * (1.0 - (CAST(p_micros AS DOUBLE)" +
              " + CAST(p2_micros AS DOUBLE)) / 2000000.0))" +
              " + 0.8416212335729143 * sqrt((CAST(p_micros AS DOUBLE)" +
              " / 1000000.0) * (1.0 - CAST(p_micros AS DOUBLE)" +
              " / 1000000.0) + (CAST(p2_micros AS DOUBLE) / 1000000.0)" +
              " * (1.0 - CAST(p2_micros AS DOUBLE) / 1000000.0)))" +
              " * (1.959963984540054 * sqrt(2.0 *" +
              " ((CAST(p_micros AS DOUBLE) + CAST(p2_micros AS DOUBLE))" +
              " / 2000000.0) * (1.0 - (CAST(p_micros AS DOUBLE)" +
              " + CAST(p2_micros AS DOUBLE)) / 2000000.0))" +
              " + 0.8416212335729143 * sqrt((CAST(p_micros AS DOUBLE)" +
              " / 1000000.0) * (1.0 - CAST(p_micros AS DOUBLE)" +
              " / 1000000.0) + (CAST(p2_micros AS DOUBLE) / 1000000.0)" +
              " * (1.0 - CAST(p2_micros AS DOUBLE) / 1000000.0)))" +
              " / ((CAST(p2_micros AS DOUBLE) - CAST(p_micros AS" +
              " DOUBLE)) / 1000000.0" +
              " * (CAST(p2_micros AS DOUBLE) - CAST(p_micros AS" +
              " DOUBLE)) / 1000000.0)) AS BIGINT)")))
  }

  /** Jonckheere–Terpstra trend test — does a VALUE trend monotonically
    * across ORDERED groups (hour buckets, quality deciles): J = Σ_{a<b}
    * U_ab, the sum of pairwise Mann–Whitney counts over ordered group
    * pairs. Completes the trend family: x201 (Cochran–Armitage) is the
    * binary-outcome case, x190 (Mann–Kendall) the paired-series case,
    * this the continuous-outcome k-group case — the ordered-alternative
    * sharpening of x179's omnibus Kruskal–Wallis.
    *
    * Exactness: doubled statistic 2U (half-ties stay integer) computed
    * from per-(group, value) counts on a zero-filled group×value GRID
    * (every group gets a cumulative below-v count at every pooled
    * value, so U_ab needs only a value-grain equi-join — never a row
    * pair join); E[2U] = Σ n_a·n_b exact; the tie-corrected variance
    * (Hollander–Wolfe three-term form) exact in DECIMAL(38,0) with one
    * truncated micro division per term; z² = 10¹²·(2U−E)² / (4·Var)
    * one final truncated division. N < 3, a single group, or Var ≤ 0
    * → NULL. Guards raise UPSTREAM of the grid (a post-hoc guard would
    * let the k·V explode run first — the x190 lesson), and the g2·t2
    * tie product carries its own conservative DECIMAL(38,0)-width
    * raise (adversarially tie-heavy data can leave the exact range
    * well inside maxExactRows — the dunn/cochran r15-ADVICE class,
    * guarded up front this time).
    *
    * Scale shape: counts one map-side-combined aggregation; the grid
    * is groups × DISTINCT values (k·V, k ≤ 64 enforced); cumulative
    * windows partition per group over value grain; the pair join is a
    * value-grain equi-join (k² matches per value). Never row-pairs. */
  def jonckheereTerpstra(rows: DataFrame, groupCol: String,
      valueCol: String, maxExactRows: Long = 2000000L): DataFrame = {
    val byGV = rows
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(integralLong(groupCol, "jonckheereTerpstra").as("g"),
        integralLong(valueCol, "jonckheereTerpstra").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // cell grain; grid, ties, group sums
    val groups = byGV.groupBy(col("g")).agg(sum(col("c")).as("n_g"))
    val guard = groups
      .agg(count(lit(1)).as("k"), sum(col("n_g")).as("nn"))
      .select(
        when(col("k") > 64, expr(
          "raise_error('jonckheereTerpstra: > 64 ordered groups —" +
            " the group-value grid is k-fold; bucket the order first')")
          .cast("long"))
          .when(col("nn") > maxExactRows, expr(
            "raise_error('jonckheereTerpstra: exact-arithmetic bound" +
              " exceeded (N > maxExactRows); pre-aggregate')")
            .cast("long"))
          .otherwise(col("k")).as("k"))
    // groups read THROUGH the guard so the raise precedes the grid
    val gGroups = groups.crossJoin(broadcast(guard))
      .filter(col("k") >= 0).select(col("g"), col("n_g"))
      .localCheckpoint(true) // bounded (≤ 64 rows)
    val grid = byGV.select(col("v")).distinct()
      .crossJoin(broadcast(gGroups.select(col("g"))))
      .join(byGV, Seq("g", "v"), "left")
      .select(col("g"), col("v"), coalesce(col("c"), lit(0L)).as("c0"))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = grid
      .withColumn("lt", coalesce(sum(col("c0")).over(wG), lit(0L)))
      .localCheckpoint(true) // k·V grain; both sides of the pair join
    val u2 = cum.as("a")
      .join(cum.as("b"),
        col("a.v") === col("b.v") && col("a.g") < col("b.g"))
      .agg(coalesce(sum(expr(
        "CAST(b.c0 AS DECIMAL(38,0)) * (2 * a.lt + a.c0)")),
        lit(0L).cast("decimal(38,0)")).as("u2"))
    val e2 = gGroups.as("a")
      .join(broadcast(gGroups.as("b")), col("a.g") < col("b.g"))
      .agg(coalesce(sum(expr(
        "CAST(a.n_g AS DECIMAL(38,0)) * b.n_g")),
        lit(0L).cast("decimal(38,0)")).as("e2"))
    val gSums = gGroups.agg(count(lit(1)).as("k"), sum(col("n_g")).as("nn"),
      sum(expr("CAST(n_g AS DECIMAL(38,0)) * (n_g - 1) * (2 * n_g + 5)"))
        .as("g1"),
      sum(expr("CAST(n_g AS DECIMAL(38,0)) * (n_g - 1) * (n_g - 2)"))
        .as("g2"),
      sum(expr("CAST(n_g AS DECIMAL(38,0)) * (n_g - 1)")).as("g3"))
    val tSums = byGV.groupBy(col("v")).agg(sum(col("c")).as("t"))
      .agg(
        coalesce(sum(expr(
          "CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)")),
          lit(0L).cast("decimal(38,0)")).as("t1"),
        coalesce(sum(expr(
          "CAST(t AS DECIMAL(38,0)) * (t - 1) * (t - 2)")),
          lit(0L).cast("decimal(38,0)")).as("t2"),
        coalesce(sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1)")),
          lit(0L).cast("decimal(38,0)")).as("t3"))
    gSums.crossJoin(broadcast(tSums)).crossJoin(broadcast(u2))
      .crossJoin(broadcast(e2))
      .withColumn("var_micros",
        when(col("nn") < 3 || col("k") < 2, lit(null).cast("long"))
          // the g2·t2 tie product can leave DECIMAL(38,0) on
          // adversarially tie-heavy data (k = 2, two values) well
          // inside maxExactRows — a conservative deterministic raise
          // (double estimate, raises slightly early near the exact
          // boundary) beats a silent precision loss; realistic
          // hour-bucket/length data sits ~5 orders below it
          .when(expr("CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)" +
            " * 1000000.0 > 0.9e38"), expr(
            "raise_error('jonckheereTerpstra: tie-term product exceeds" +
              " the DECIMAL(38,0) exact range; bucket the value" +
              " column coarser')").cast("long"))
          .otherwise(expr(
            "CAST((1000000 * (CAST(nn AS DECIMAL(38,0)) * (nn - 1)" +
              " * (2 * nn + 5) - g1 - t1)) div 72" +
              " + (1000000 * g2 * t2) div (36 * CAST(nn AS DECIMAL(38,0))" +
              " * (nn - 1) * (nn - 2))" +
              " + (1000000 * g3 * t3) div (8 * CAST(nn AS DECIMAL(38,0))" +
              " * (nn - 1)) AS BIGINT)")))
      .select(col("nn").as("n"), col("k").as("n_groups"),
        col("u2").cast("long").as("u2"), col("e2").cast("long").as("e2"),
        col("var_micros"),
        when(col("var_micros").isNull || col("var_micros") <= 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((1000000000000 * ((u2 - e2) * (u2 - e2)))" +
              " div (4 * CAST(var_micros AS DECIMAL(38,0)))" +
              " AS BIGINT)")).as("z_sq_micros"))
  }

  /** Monroe–Colaresi–Quinn weighted log-odds with an informative
    * Dirichlet prior — WHICH terms distinguish sub-corpus A from B,
    * z-scored so rare-but-extreme terms don't dominate (the failure
    * mode of raw log-odds and PMI): δ_w = ln-odds difference under a
    * prior α_w proportional to the pooled corpus frequency, σ²_w ≈
    * 1/(y_aw+α_w) + 1/(y_bw+α_w), reported top-k by |z|. The keyness
    * instrument of the corpus-diff shelf: x63/x168 say THAT two
    * sources diverge, x153 ranks features by information, this names
    * the terms with calibrated confidence ("Fightin' Words", Monroe
    * et al. 2008).
    *
    * Exactness: counts exact; δ and z are ONE written-out IEEE chain
    * per term (prior, two ln-odds, the σ² sqrt) quantized to micros —
    * never summed across rows, so no order dependence; ties in |z|
    * break by term. α₀ ships as a shortest-round-trip double literal.
    *
    * Scale shape: one token-grain aggregation (map-side combined) to
    * vocabulary grain, row-local chains, TakeOrderedAndProject top-k —
    * no joins, no windows. */
  def monroeLogOdds(rows: DataFrame, flagCol: String, textCol: String,
      alpha0: Double, topK: Int): DataFrame = {
    require(alpha0 > 0, s"alpha0 must be > 0, got $alpha0")
    require(topK >= 1 && topK <= 1000, s"topK must be in [1,1000], got $topK")
    val a0 = java.lang.Double.toString(alpha0)
    val counts = rows
      .filter(col(flagCol).isNotNull && col(textCol).isNotNull)
      .select(col(flagCol).cast("boolean").as("fa"),
        explode(graft.ops.DedupOps.tokens(col(textCol))).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("fa"), 1L).otherwise(0L)).as("ya"),
        sum(when(!col("fa"), 1L).otherwise(0L)).as("yb"))
      .localCheckpoint(true) // vocab grain; totals AND the chains
    val tot = counts.agg(sum(col("ya")).as("na"), sum(col("yb")).as("nb"))
    counts.crossJoin(broadcast(tot))
      .withColumn("aw", expr(
        s"$a0 * (CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE))" +
          " / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))"))
      .filter(expr(s"CAST(na AS DOUBLE) + $a0 - CAST(ya AS DOUBLE) - aw" +
        s" > 0.0 AND CAST(nb AS DOUBLE) + $a0 - CAST(yb AS DOUBLE) - aw" +
        " > 0.0"))
      .select(col("w").as("term"), col("ya").as("y_a"), col("yb").as("y_b"),
        expr(s"CAST(round(1000000.0 * (ln((CAST(ya AS DOUBLE) + aw)" +
          s" / (CAST(na AS DOUBLE) + $a0 - CAST(ya AS DOUBLE) - aw))" +
          s" - ln((CAST(yb AS DOUBLE) + aw)" +
          s" / (CAST(nb AS DOUBLE) + $a0 - CAST(yb AS DOUBLE) - aw))))" +
          " AS BIGINT)").as("delta_micros"),
        expr(s"CAST(round(1000000.0 * (ln((CAST(ya AS DOUBLE) + aw)" +
          s" / (CAST(na AS DOUBLE) + $a0 - CAST(ya AS DOUBLE) - aw))" +
          s" - ln((CAST(yb AS DOUBLE) + aw)" +
          s" / (CAST(nb AS DOUBLE) + $a0 - CAST(yb AS DOUBLE) - aw)))" +
          " / sqrt(1.0 / (CAST(ya AS DOUBLE) + aw)" +
          " + 1.0 / (CAST(yb AS DOUBLE) + aw))) AS BIGINT)")
          .as("z_micros"))
      .orderBy(abs(col("z_micros")).desc, col("term"))
      .limit(topK)
  }

  /** Cohen's h per group vs the REST of the corpus — the arcsine-
    * transformed effect size for a proportion difference: h =
    * 2·asin(√p_g) − 2·asin(√p_rest), the magnitude read that a
    * p-value (x77/x201) and a CI (x213) both lack, and the δ input
    * x214's planning formula needs ("is this slice's en-rate
    * DIFFERENT ENOUGH to matter, not just significantly different").
    * |h| ≈ 0.2/0.5/0.8 small/medium/large by the classic convention.
    *
    * Exactness: per-group and complement rates exact truncated micros;
    * h is ONE written-out IEEE chain (two sqrt-asin pairs) per group
    * rounded once to micros. A group that IS the whole corpus → NULL
    * (no rest to compare).
    *
    * Scale shape: one group-grain aggregation + a 1-row broadcast —
    * row-local after. */
  def cohensH(rows: DataFrame, groupCol: String,
      labelCol: String): DataFrame = {
    val per = rows
      .filter(col(groupCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("pos"))
    val tot = per.agg(sum(col("n")).as("nt"), sum(col("pos")).as("post"))
    per.crossJoin(broadcast(tot))
      .select(col("grp"), col("n"), col("pos"),
        expr("(1000000 * pos) div n").as("p_micros"),
        when(col("nt") === col("n"), lit(null).cast("long"))
          .otherwise(expr("(1000000 * (post - pos)) div (nt - n)"))
          .as("p_rest_micros"))
      .withColumn("cohens_h_micros",
        when(col("p_rest_micros").isNull, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(round(1000000.0 * (2.0 * asin(sqrt(CAST(p_micros" +
              " AS DOUBLE) / 1000000.0)) - 2.0 * asin(sqrt(" +
              "CAST(p_rest_micros AS DOUBLE) / 1000000.0))))" +
              " AS BIGINT)")))
      .orderBy(col("grp"))
  }

  /** Delete-one-GROUP jackknife of a corpus proportion — for each
    * group: the metric with that group REMOVED, its influence
    * (θ_full − θ₍₋g₎, signed — which sources move the corpus en-rate
    * and which way), and the delete-group jackknife standard error of
    * the whole-corpus metric. The resampling answer x124's bootstrap
    * can't give at group grain cheaply: because the metric is a ratio
    * of sums, EVERY leave-one-out replicate is EXACT from the group
    * aggregates (totals minus the group) — one pass, no resampling,
    * and the influence column is the curation dashboard's "which
    * source is propping up / dragging down this number".
    *
    * Exactness: θ replicates are exact truncated micros; the jackknife
    * variance is cross-multiplied ((G−1)·Σ(G·θ_g − Σθ)² / G³, exact in
    * DECIMAL(38,0)) with ONE IEEE sqrt floored to micros. A group that
    * is the entire corpus → NULL replicate; G < 2 → NULL SE.
    *
    * Scale shape: one group-grain aggregation, scalar reduces over the
    * G-row relation, broadcasts back — no windows, no row joins. */
  def jackknifeRatio(rows: DataFrame, groupCol: String,
      labelCol: String): DataFrame = {
    val per = rows
      .filter(col(groupCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("pos"))
      .localCheckpoint(true) // group grain; replicates AND the SE pass
    val tot = per.agg(count(lit(1)).as("gg"), sum(col("n")).as("nt"),
      sum(col("pos")).as("post"))
    val reps = per.crossJoin(broadcast(tot))
      .select(col("grp"), col("n"), col("pos"), col("gg"), col("nt"),
        col("post"),
        expr("(1000000 * post) div nt").as("theta_full_micros"),
        when(col("nt") === col("n"), lit(null).cast("long"))
          .otherwise(expr("(1000000 * (post - pos)) div (nt - n)"))
          .as("theta_loo_micros"))
      .localCheckpoint(true) // group grain with replicates
    val se = reps.filter(col("theta_loo_micros").isNotNull)
      .agg(count(lit(1)).as("g2"),
        sum(col("theta_loo_micros")).as("s"),
        sum(expr("CAST(theta_loo_micros AS DECIMAL(38,0))" +
          " * theta_loo_micros")).as("s2"))
      .select(col("g2"),
        when(col("g2") < 2, lit(null).cast("long"))
          .otherwise(expr(
            // (G−1)/G · Σ(θ−θ̄)² = (G−1)·(G·Σθ² − (Σθ)²)/G²
            "CAST(floor(sqrt(CAST((CAST(g2 AS DECIMAL(38,0)) - 1)" +
              " * (CAST(g2 AS DECIMAL(38,0)) * s2 - CAST(s AS" +
              " DECIMAL(38,0)) * s) AS DOUBLE)" +
              " / (CAST(g2 AS DOUBLE) * CAST(g2 AS DOUBLE))))" +
              " AS BIGINT)")).as("jk_se_micros"))
    reps.crossJoin(broadcast(se))
      .select(col("grp"), col("n"), col("pos"), col("theta_full_micros"),
        col("theta_loo_micros"),
        when(col("theta_loo_micros").isNull, lit(null).cast("long"))
          .otherwise(col("theta_full_micros") - col("theta_loo_micros"))
          .as("influence_micros"),
        col("jk_se_micros"))
      .orderBy(col("grp"))
  }

  /** TOST equivalence test of two proportions — "are these two slices
    * PRACTICALLY the same" with margin ±δ: two one-sided z tests
    * (H₀: |p₁−p₂| ≥ δ), equivalence claimed at 90% when BOTH z's
    * clear 1.645 — the inverse question of every significance test on
    * the shelf (x77/x162/x201 ask "different?"; after a pipeline
    * change you need "same ENOUGH to ship?", and absence of
    * significance is not that). Margin in micro units.
    *
    * Exactness: rates exact truncated micros; the pooled-free Wald SE
    * is ONE written-out IEEE chain (two variance terms, one sqrt)
    * floored to micros; the two z's are integer micro ratios against
    * it, truncated once each. Either arm empty → empty result; SE = 0
    * (degenerate rates in both arms) → NULL z's.
    *
    * Scale shape: one two-group aggregation + a 1-row join —
    * row-local after. */
  def tostEquivalence(rows: DataFrame, armACol: String,
      labelCol: String, marginMicros: Long): DataFrame = {
    require(marginMicros > 0 && marginMicros <= 1000000L,
      s"marginMicros must be in (0, 1000000], got $marginMicros")
    val per = rows
      .filter(col(armACol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(armACol).cast("boolean").as("arm_a"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("pos"))
      .withColumn("p", expr("(1000000 * pos) div n"))
    val a = per.filter(col("arm_a"))
      .select(col("n").as("n1"), col("pos").as("pos1"), col("p").as("p1"))
    val b = per.filter(!col("arm_a"))
      .select(col("n").as("n2"), col("pos").as("pos2"), col("p").as("p2"))
    a.crossJoin(broadcast(b))
      .withColumn("se_micros", expr(
        "CAST(floor(1000000.0 * sqrt((CAST(p1 AS DOUBLE) / 1000000.0)" +
          " * (1.0 - CAST(p1 AS DOUBLE) / 1000000.0)" +
          " / CAST(n1 AS DOUBLE) + (CAST(p2 AS DOUBLE) / 1000000.0)" +
          " * (1.0 - CAST(p2 AS DOUBLE) / 1000000.0)" +
          " / CAST(n2 AS DOUBLE))) AS BIGINT)"))
      .select(col("n1"), col("pos1"), col("n2"), col("pos2"),
        col("p1").as("p1_micros"), col("p2").as("p2_micros"),
        (col("p1") - col("p2")).as("diff_micros"), col("se_micros"),
        // sign-explicit truncation: either z can be negative, and
        // Spark div truncates where DuckDB // floors
        when(col("se_micros") <= 0, lit(null).cast("long"))
          .otherwise(expr(
            s"CAST(sign(p1 - p2 + ${marginMicros}L)" +
              s" * ((1000000 * abs(p1 - p2 + ${marginMicros}L))" +
              " div se_micros) AS BIGINT)")).as("z_lower_micros"),
        when(col("se_micros") <= 0, lit(null).cast("long"))
          .otherwise(expr(
            s"CAST(sign(${marginMicros}L - (p1 - p2))" +
              s" * ((1000000 * abs(${marginMicros}L - (p1 - p2)))" +
              " div se_micros) AS BIGINT)")).as("z_upper_micros"))
      .withColumn("equivalent_90",
        when(col("z_lower_micros").isNull, lit(null).cast("boolean"))
          .otherwise(col("z_lower_micros") > 1644854L &&
            col("z_upper_micros") > 1644854L))
  }

  /** Chao–Shen coverage-adjusted Shannon entropy of the token
    * distribution — the bias-corrected entropy estimate for a sampled
    * vocabulary: plain MLE entropy is biased LOW exactly when the
    * corpus has unseen mass (every singleton says more types are
    * coming), so each seen probability is shrunk by the Good–Turing
    * coverage Ĉ = 1 − f₁/n (the x100 quantity) and inverse-weighted by
    * its inclusion probability 1 − (1−Ĉp̂)ⁿ (Horvitz–Thompson). Both
    * estimates are reported — the GAP is the honesty column ("how much
    * entropy the sample is hiding"), the diversity-shelf companion to
    * x136's richness correction and x211's profile of SEEN mass.
    *
    * Exactness: counts exact; each per-type term is ONE written-out
    * IEEE chain (coverage shrink, ln, the (1−Ĉp̂)ⁿ inclusion weight via
    * power) rounded to micro-nats per term, then EXACT integer sums —
    * the x28j rule, so partitioning cannot move either estimate.
    * All-singletons (Ĉ = 0) → NULL Chao–Shen (coverage unestimable),
    * MLE still reported.
    *
    * Scale shape: one token-grain aggregation (map-side combined) to
    * vocabulary grain, row-local chains, two scalar reduces — no
    * joins beyond a 1-row broadcast. */
  def chaoShenEntropy(rows: DataFrame, textCol: String): DataFrame =
    chaoShenCore(rows
      .filter(col(textCol).isNotNull)
      .select(explode(graft.ops.DedupOps.tokens(col(textCol))).as("w")))

  /** [[chaoShenEntropy]] at 3-SHINGLE grain (all occurrences, not the
    * dedup shelf's distinct sets): the closed unigram vocabulary of a
    * synthetic corpus gives the correction nothing to do (Ĉ = 1 —
    * published, not hidden), while shingle space has the singleton
    * tail the estimator exists for — the grain a real vocabulary-
    * sizing decision runs at anyway. */
  def chaoShenEntropyShingles(rows: DataFrame, textCol: String): DataFrame =
    chaoShenCore(rows
      .filter(col(textCol).isNotNull)
      .select(graft.ops.DedupOps.tokens(col(textCol)).as("tk"))
      .select(explode(when(size(col("tk")) >= 3,
        transform(sequence(lit(1), size(col("tk")) - 2),
          i => array_join(slice(col("tk"), i, lit(3)), " ")))
        .otherwise(array().cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))).as("w")))

  private def chaoShenCore(tokens: DataFrame): DataFrame = {
    val counts = tokens
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // vocab grain; totals AND the chains
    val tot = counts.agg(sum(col("c")).as("n"), count(lit(1)).as("v"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"))
    counts.crossJoin(broadcast(tot))
      .agg(first(col("n")).as("n_tokens"), first(col("v")).as("vocab"),
        first(col("f1")).as("f1"),
        coalesce(sum(expr(
          "CAST(round(1000000.0 * (CAST(c AS DOUBLE) / CAST(n AS" +
            " DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))" +
            " AS BIGINT)")), lit(0L)).as("neg_h_ml"),
        coalesce(sum(expr(
          "CAST(round(1000000.0 * ((1.0 - CAST(f1 AS DOUBLE)" +
            " / CAST(n AS DOUBLE)) * (CAST(c AS DOUBLE) / CAST(n AS" +
            " DOUBLE))) * ln((1.0 - CAST(f1 AS DOUBLE) / CAST(n AS" +
            " DOUBLE)) * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))" +
            " / (1.0 - power(1.0 - (1.0 - CAST(f1 AS DOUBLE)" +
            " / CAST(n AS DOUBLE)) * (CAST(c AS DOUBLE) / CAST(n AS" +
            " DOUBLE)), CAST(n AS DOUBLE)))) AS BIGINT)")), lit(0L))
          .as("neg_h_cs"))
      .select(col("n_tokens"), col("vocab"), col("f1"),
        expr("(1000000 * (n_tokens - f1)) div n_tokens")
          .as("coverage_micros"),
        (-col("neg_h_ml")).as("h_ml_micros"),
        when(col("f1") === col("n_tokens"), lit(null).cast("long"))
          .otherwise(-col("neg_h_cs")).as("h_cs_micros"))
  }

  /** Page's L trend test — k ORDERED treatments measured on the same
    * n blocks: L = Σ_j s_j·R_j over the within-block rank sums, the
    * ordered-alternative sharpening of [[friedmanTest]]'s omnibus χ²
    * exactly as x201 sharpens x77 ("activity doesn't just DIFFER
    * across the three time buckets, it DECLINES"). Treatment order =
    * column order; scores 1..k.
    *
    * Exactness: the [[blockMidranks]] doubled-midrank core verbatim
    * (one row-local pass, ties → midranks), so 2L is an exact
    * integer; E[2L] = n·k(k+1)²/2 exact (k(k+1)² is always even); z²
    * = 36·10⁶·(2L−E)² / (n·k²(k+1)²(k−1)) one truncated division,
    * with the CLASSIC no-tie variance (tie_sum is exported so a
    * tie-heavy corpus is visible — fully-tied blocks contribute
    * exactly E/n each, so they dilute, never bias). n = 0 → NULL.
    *
    * Scale shape: ONE map-side-combined aggregation over blocks — no
    * shuffle beyond the final reduce (the friedman shape). */
  def pageTrend(rows: DataFrame, treatmentCols: Seq[String]): DataFrame = {
    val k = treatmentCols.size
    require(k >= 3 && k <= 8,
      s"pageTrend needs 3 <= k <= 8 ordered treatments, got $k")
    val filtered = rows.filter(
      treatmentCols.map(col(_).isNotNull).reduce(_ && _))
    val vals = treatmentCols.zipWithIndex.map { case (c, i) =>
      integralLong(c, "pageTrend").as(s"v$i")
    }
    val base = filtered.select(vals: _*)
    val (rankCols, tieTerm) = blockMidranks(k)
    val ranked = base.select(rankCols :+ tieTerm.as("tb"): _*)
    val sums = ranked.agg(count(lit(1)).as("n"),
      (Seq(sum(col("tb")).as("t")) ++
        (0 until k).map(j => sum(col(s"r$j")).as(s"s$j"))): _*)
    val l2 = (0 until k)
      .map(j => s"${j + 1} * CAST(s$j AS DECIMAL(38,0))").mkString(" + ")
    sums.select(col("n").as("n_blocks"), lit(k).cast("long").as("k"),
      col("t").as("tie_sum"),
      expr(s"CAST($l2 AS BIGINT)").as("l2"),
      expr(s"CAST(CAST(n AS DECIMAL(38,0)) * ${k * (k + 1) * (k + 1) / 2}" +
        " AS BIGINT)").as("e2"),
      when(col("n") === 0, lit(null).cast("long"))
        .otherwise(expr(
          s"CAST((36000000 * (($l2) - CAST(n AS DECIMAL(38,0))" +
            s" * ${k * (k + 1) * (k + 1) / 2})" +
            s" * (($l2) - CAST(n AS DECIMAL(38,0))" +
            s" * ${k * (k + 1) * (k + 1) / 2}))" +
            s" div (CAST(n AS DECIMAL(38,0))" +
            s" * ${k * k * (k + 1) * (k + 1) * (k - 1)}) AS BIGINT)"))
        .as("z_sq_micros"))
  }
}
