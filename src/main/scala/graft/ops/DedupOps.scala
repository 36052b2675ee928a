package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.Tables._

/** Deduplication operators for an LLM-training-data pipeline (SURVEY.md §2B
  * X25–X26): exact content-hash dedup, exact n-gram Jaccard, MinHash+LSH,
  * and SimHash — all pure column algebra (codegen'd built-ins, no UDFs).
  *
  * Scale design (100 TB): exact dedup and MinHash are single-shuffle
  * hash-aggregations on content-derived keys. The exact all-pairs Jaccard is
  * the *verifier* (quadratic — run it only on LSH candidates, which is what
  * [[minhashPairs]] does); at scale the LSH band-bucket join replaces the
  * all-pairs join, turning O(n²) into O(n · bucket_width). */
object DedupOps {

  /** Whitespace tokens, lowercased, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => t =!= "")

  /** Distinct 3-word shingles. `sequence(1,0)` would step backwards in
    * Spark, so short docs get an explicit empty array. */
  def shingles(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(1), size(toks) - 2),
        i => array_join(slice(toks, i, lit(3)), " "))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** (doc_id, shh) — one row per distinct shingle xxhash64, via the native
    * single-pass expression (graft.functions.ShingleHashes); hash-identical
    * to `xxhash64(sh)` over the composed form
    * `select(doc_id, explode(shingles(tokens(text))))` (asserted in
    * TextExprSpec, which rebuilds the composed pipeline from the public
    * [[tokens]]/[[shingles]] columns). */
  private def shingleHashRows(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingle_hashes(col("text"), 3)).as("shh"))

  // Shared relations cached per (application, SF dir) — see PerAppCache
  // for the keying rationale.
  import PerAppCache.cachedPerApp

  // the (doc_id, shh) shingle relation: each query reuses it on 2-3 plan
  // branches, and x26/x26b share it (~100k rows each at fixture SF)
  private def persistShingles(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.shingles", s, d)(
      PerAppCache.persistSpread(s, shingleHashRows(s, d)))

  // the verified near-dup pair relation: feeds the pair query (x26) and
  // the cluster build, so the O(shared-shingle) self-join is paid once
  private def persistPairs(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.pairs", s, d)(
      PerAppCache.persistSpread(s, graft.api.TrainingData
        .nearDupPairsFromShingles(persistShingles(s, d), 0.5)))

  // cluster labels over the pairs: shared by x26e and x26g; the iterative
  // CC run is paid once, its result backed by a checkpointed RDD
  private def persistLabels(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.labels", s, d)(
      connectedComponents(persistPairs(s, d).select(col("d1"), col("d2"))))

  /** X25 — exact dedup by content hash: clusters of byte-identical texts,
    * canonical member = min doc_id (deterministic survivor pick).
    * Fixture binding of [[graft.api.TrainingData.exactDedup]]. */
  def x25Exact(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.exactDedup(t(s, d, "documents"), "doc_id", "text")
      .orderBy(col("content_hash"))

  /** Co-occurring doc pairs per 64-bit key: narrow (doc_id, key) rows
    * self-joined on the long key — the shuffle carries 16 bytes/row
    * instead of shingle strings. Counting shared keys per ordered pair.
    * Shared by the exact-Jaccard core (TrainingData) and the LSH band path. */
  private[graft] def coocPairs(rows: DataFrame, key: String): DataFrame =
    rows.as("a").join(rows.as("b"),
        col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))

  /** X26 — exact n-gram Jaccard similarity: all pairs ≥ 0.5 on distinct
    * 3-shingles. The shingle scan is persisted and reused by both join
    * sides and the per-doc counts (it is otherwise recomputed 3×), and the
    * join key is xxhash64(shingle) — an 8-byte shuffle key; a cross-shingle
    * hash collision (p ≈ n²/2⁶⁴ ≈ 10⁻¹² here) would perturb one count.
    * The correctness oracle for the LSH path below; the unordered pair
    * relation itself is cached ([[persistPairs]]) and shared with the
    * cluster query [[x26eDedupClusters]]. */
  def x26Jaccard(s: SparkSession, d: String): DataFrame =
    persistPairs(s, d).orderBy(col("d1"), col("d2"))

  // MinHash parameters: k=16 permutations h_i(x) = (a_i·x + b_i) mod p over
  // a 31-bit base hash, banded 4×4 for LSH. Constants are fixed (results
  // must be deterministic across runs/partitionings).
  import graft.functions.MinHashParams.{P, aCoef, bCoef}
  private val NumHashes = 16
  private val BandSize = 4

  /** MinHash signature columns sig_0..sig_15 per doc (one shuffle), from a
    * pre-hashed (doc_id, shh) shingle relation. */
  private def signatures(sh: DataFrame): DataFrame = {
    val base = pmod(col("shh"), lit(1L << 31))
    val hashed = sh.select(
      col("doc_id") +: (0 until NumHashes).map(i =>
        pmod(lit(aCoef(i)) * base + lit(bCoef(i)), lit(P)).as(s"h_$i")): _*)
    hashed.groupBy(col("doc_id"))
      .agg(min(col("h_0")).as("sig_0"),
        (1 until NumHashes).map(i => min(col(s"h_$i")).as(s"sig_$i")): _*)
  }

  /** 32-bit content hash both engines can compute identically: the first 8
    * hex chars of SHA-256 parsed as an integer (Spark `conv`; DuckDB spells
    * the same parse with ascii() arithmetic — [[hex32Sql]]). The portable
    * twin of `xxhash64` for fixture queries whose WHOLE algorithm is
    * oracle-checked; the parametric API keeps xxhash64 (one hash
    * instruction vs a crypto digest) since library callers don't replay
    * results in a second engine. */
  private[graft] def sha32(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 8), 16, 10).cast("long")

  // The sha32 MinHash signature relation (one row per doc, 16 longs):
  // persisted because the band self-join references it on BOTH join sides
  // (unpersisted, the whole build re-ran per branch — r5: 16.5 s). The
  // build itself is the single-pass native expression: the composed
  // shingleRows→sha256→16-hash→groupBy form cost ~6 s cold at sf0.1
  // (string-shingle generation through 7 higher-order functions plus a
  // 260k-row×16-col aggregation shuffle); folding the per-doc minimum
  // inside the scan makes the build one narrow pass (~0.5 s), and the
  // bit-equality of the two forms is asserted in TextExprSpec — the
  // DuckDB oracle still replays the full algorithm unchanged.
  private def persistShaSignatures(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.shaSignatures", s, d)(
      PerAppCache.persistSpread(s, t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions
            .sha32_minhash_sigs(col("text"), 3, NumHashes).as("sigs"))
        .filter(size(col("sigs")) > 0)
        .select(col("doc_id") +:
          (0 until NumHashes).map(i => col("sigs").getItem(i).as(s"sig_$i")): _*)))

  /** The DuckDB spelling of [[sha32]] over SQL expression `expr`. */
  private def hex32Sql(expr: String): String = {
    def digit(i: Int) = {
      val a = s"ascii(substring(sha256($expr), $i, 1))"
      s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
    }
    (2 to 8).foldLeft(s"CAST(${digit(1)} AS BIGINT)")(
      (acc, i) => s"($acc * 16 + ${digit(i)})")
  }

  /** X26 (scale path) — MinHash + LSH banding: docs sharing any band bucket
    * become candidates; candidates are verified with exact Jaccard ≥ 0.5.
    * Equals [[x26Jaccard]]'s pair set whenever LSH recall is 1 (asserted on
    * the fixture by LlmOpsSpec); at 100 TB this replaces the all-pairs join
    * with a bucket-equi-join.
    *
    * The fixture binding runs the same signature→band→verify pipeline on
    * the PORTABLE base hash ([[sha32]]) and string band keys, so the whole
    * MinHash algorithm — not just the verified result — is replayed by the
    * DuckDB oracle. The parametric API path
    * ([[minhashPairsFromShingles]]) keeps xxhash64 bases and 8-byte band
    * keys: at scale the band shuffle should carry longs, not strings. */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    verifiedJaccardPairs(shaBandCandidates(s, d), persistShingles(s, d), 0.5)
      .orderBy(col("d1"), col("d2"))

  /** The PRE-verification band-candidate pair relation of the sha
    * MinHash path — shared by [[minhashPairs]] and the x107 recall
    * audit (which must see the candidates the verify step would have
    * filtered). */
  private def shaBandCandidates(s: SparkSession, d: String): DataFrame =
    coocPairs(shaBands(s, d), "bandkey").select(col("d1"), col("d2"))

  /** The (doc_id, bandkey) relation of the sha MinHash path — shared by
    * [[shaBandCandidates]] (symmetric self-coocurrence) and the x117
    * incremental admission (delta ⋈ base cross join only). */
  private def shaBands(s: SparkSession, d: String): DataFrame =
    persistShaSignatures(s, d).select(col("doc_id"), explode(array(
      (0 until NumHashes / BandSize).map { bId =>
        concat_ws(",", lit(bId) +:
          (0 until BandSize).map(r => col(s"sig_${bId * BandSize + r}")): _*)
      }: _*)).as("bandkey"))

  /** X117 — INCREMENTAL near-dup admission: a delta batch (every 10th
    * doc) screened against the standing corpus through the LSH band
    * index — the near-dup sibling of x25b's exact-hash admission, and
    * how a 100 TB corpus actually ingests: the base side's signatures
    * and bands already exist (here: the SHARED cached sha-signature
    * relation), the delta is signed fresh, and candidates come ONLY
    * from delta-band ⋈ base-band — no base×base pair work, no delta
    * self-pairs, cost proportional to the delta. Verified cross
    * candidates (exact Jaccard ≥ 0.5) reject the newcomer with its
    * smallest duplicate-of id; unmatched newcomers are admitted. */
  def x117IncrementalAdmission(s: SparkSession, d: String): DataFrame = {
    val bands = shaBands(s, d)
    val cand = bands.filter(col("doc_id") % 10 === 0)
      .select(col("bandkey"), col("doc_id").as("d1"))
      .join(bands.filter(col("doc_id") % 10 =!= 0)
        .select(col("bandkey"), col("doc_id").as("d2")), "bandkey")
      .select(col("d1"), col("d2")).distinct()
    val matches = verifiedJaccardPairs(cand, persistShingles(s, d), 0.5)
      .groupBy(col("d1").as("doc_id"))
      .agg(count(lit(1)).as("n_dups"), min(col("d2")).as("dup_of"))
    t(s, d, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 10 === 0)
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).as("admitted"))
      .orderBy(col("doc_id"))
  }

  /** X107 — LSH recall/precision audit: the banding's candidate pairs
    * measured against the EXACT pair relation (the shared x26 cache) →
    * one row (n_exact, n_cand, n_caught, recall_micro, precision_micro).
    * The estimator-quality check a team runs before trusting banded LSH
    * at a scale where the exact join is unaffordable: recall < 10⁶ means
    * real duplicates slip through this band/row configuration; the
    * pre-verify precision prices the verification join. Counts are the
    * whole audit — it rides two already-cached relations and adds one
    * equi-join on (d1, d2). Zero exact pairs → NULL recall (undefined),
    * never a division by zero. */
  def x107LshRecallAudit(s: SparkSession, d: String): DataFrame = {
    val exact = persistPairs(s, d).select(col("d1"), col("d2"))
    val cand = shaBandCandidates(s, d)
    val counts = exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(exact.join(cand, Seq("d1", "d2"))
        .agg(count(lit(1)).as("n_caught")))
    counts.select(col("n_exact"), col("n_cand"), col("n_caught"),
      when(col("n_exact") === 0L, lit(null).cast("long"))
        .otherwise(expr("(n_caught * 1000000L) div n_exact"))
        .as("recall_micro"),
      when(col("n_cand") === 0L, lit(null).cast("long"))
        .otherwise(expr("(n_caught * 1000000L) div n_cand"))
        .as("precision_micro"))
  }

  /** X106 — duplicate-mass concentration: top-20 near-dup clusters by
    * size with exact micro shares of all clustered docs, off the SHARED
    * x26e label cache. Fixture binding of
    * [[graft.api.TrainingData.clusterConcentration]]. */
  def x106DupConcentration(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.clusterConcentration(
      persistLabels(s, d), "id", "label", k = 20)
      .orderBy(col("rank"))

  /** The MinHash+LSH core over any `(doc_id, shh)` shingle relation —
    * shared by the fixture query above and the parametric API
    * (graft.api.TrainingData.minhashNearDupPairs). */
  private[graft] def minhashPairsFromShingles(shingles: DataFrame,
      threshold: Double): DataFrame = {
    val sh = shingles.select(col("doc_id"), col("shh"))
    val sig = signatures(sh)
    val bands = sig.select(col("doc_id"), explode(array(
      (0 until NumHashes / BandSize).map { bId =>
        struct(lit(bId).as("band"),
          xxhash64(concat_ws(",",
            (0 until BandSize).map(r => col(s"sig_${bId * BandSize + r}")): _*)).as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bkey"))
    val cand = bands
      .withColumn("bandkey", xxhash64(col("band"), col("bkey")))
      .select(col("doc_id"), col("bandkey"))
      .transform(coocPairs(_, "bandkey"))
      .select(col("d1"), col("d2"))
    verifiedJaccardPairs(cand, sh, threshold)
  }

  /** Exact-Jaccard verification of a candidate pair list against a
    * `(doc_id, shh)` shingle relation → (d1, d2, jaccard) at/above the
    * threshold. No broadcast hints: cand and the per-doc count relation n
    * both scale with the corpus — AQE broadcasts them while small and
    * falls back to shuffle joins at scale (a forced broadcast would OOM
    * the driver). */
  private def verifiedJaccardPairs(cand: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    cand
      .join(sh.as("a"), col("d1") === col("a.doc_id"))
      .join(sh.as("b"), col("d2") === col("b.doc_id") && col("a.shh") === col("b.shh"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(n.as("n1"), col("d1") === col("n1.doc_id"))
      .join(n.as("n2"), col("d2") === col("n2.doc_id"))
      .withColumn("jac", col("inter").cast("double") /
        (col("n1.ns") + col("n2.ns") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
  }

  /** X26 — near-dup CLUSTERS: connected components over the exact-Jaccard
    * pair graph (the step that turns pairwise matches into dedup groups —
    * keep `min(doc_id)` per component as the canonical survivor).
    *
    * Algorithm: iterative min-label propagation to a fixpoint — each round
    * every node takes the minimum label among itself and its neighbors;
    * convergence needs ≤ diameter rounds (near-dup components are shallow:
    * chains of transitively-similar docs). This is the standard
    * shuffle-based connected-components shape on Spark — each round is one
    * equi-join + hash aggregation, both label relations tiny relative to
    * the corpus (only docs that appear in some pair), and only the scalar
    * changed-count crosses to the driver per round. Deterministic: the
    * fixpoint (component-min labels) does not depend on iteration order. */
  def x26eDedupClusters(s: SparkSession, d: String): DataFrame =
    persistLabels(s, d)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))

  /** X50 — cross-source duplication matrix over the exact-Jaccard pair
    * relation: n near-dup pairs per unordered source pair — which corpora
    * duplicate each other (and themselves, on the diagonal), the data-map
    * read a curation pass consults before choosing survivor policy.
    * Fixture binding of [[graft.api.TrainingData.crossSourceDupMatrix]]
    * over the shared cached pair relation ([[persistPairs]] — the same
    * rows x26/x26e consume, so the three queries can never disagree on
    * what "a duplicate" is). */
  def x50DupMatrix(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.crossSourceDupMatrix(
      persistPairs(s, d), t(s, d, "documents"), "doc_id", "source")
      .orderBy(col("src_a"), col("src_b"))

  /** Reusable connected components over an undirected pair list
    * (`(d1, d2)` long columns): returns `(id, label)` where `label` is the
    * minimum id of the node's component. Iterative min-label propagation;
    * each round is one equi-join + hash aggregation. Each round's result is
    * `localCheckpoint`ed (eager) — `labels` feeds BOTH the join and the
    * union branch, so without truncation the logical plan doubles every
    * round (2^rounds nodes: analyzer death long before any data moves);
    * with it the plan stays O(1) per round and total work O(rounds).
    * Convergence is a changed-label count (rows where the new label differs
    * from the old), NOT Σlabel — summing 64-bit ids overflows ANSI
    * arithmetic for hash- or snowflake-derived ids near 2^62. Each round
    * combines one-hop neighbor propagation with pointer jumping
    * (label := label's label), so rounds needed are O(log diameter) —
    * any graph a cluster can hold converges well inside the default
    * `maxRounds`; exceeding it still THROWS rather than silently
    * returning partially-merged clusters. The returned relation is backed by
    * a checkpointed RDD that the ContextCleaner frees once the caller drops
    * the reference — no explicit unpersist needed (same for the per-round
    * intermediates, dereferenced each iteration). Property-tested against a
    * union-find model (PropertySpec). */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    // undirected: propagate along both directions of each edge
    val edges = pairs.toDF("d1", "d2")
      .union(pairs.toDF("d1", "d2").select(col("d2").as("d1"), col("d1").as("d2")))
      .persist()
    var labels = edges.select(col("d1").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // pointer jumping without a self-join: the edge set is augmented
      // with the current label links (v → label(v); label values are
      // always node ids, so the join below resolves them), and one hop
      // over the augmented graph picks up min(neighbor labels,
      // label's-own-label). The surviving label-path length halves each
      // round on top of the one-hop propagation → O(log diameter) rounds,
      // not O(diameter); a 2^50-diameter chain would be needed to exhaust
      // the default maxRounds. Only the forward link carries information —
      // a reverse link (label(v) → v) would just re-deliver label(v) its
      // own current label, since both ends resolve against the same labels
      // snapshot. (A literal hop-then-self-join formulation trips a
      // Catalyst constraint-rewrite bug when the checkpointed join feeds
      // the next round's union — the augmented-edge form keeps every
      // round the same join+union+aggregate shape over checkpoint leaves,
      // which analyzes cleanly.)
      val labelEdges = labels.select(col("id").as("d1"), col("label").as("d2"))
      val prop = edges.union(labelEdges).join(labels, col("d2") === col("id"))
        .select(col("d1").as("id"), col("label"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val changed = prop.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.label") =!= col("o.label"))
        .count()
      labels = prop
      converged = changed == 0L
      rounds += 1
    }
    edges.unpersist()
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds " +
          "(component diameter exceeds the cap); pass a larger maxRounds")
    }
    labels
  }

  /** X26 — dedup survivor selection: one kept doc per near-dup cluster,
    * the member maximizing `n_chars` (ties → min doc_id); unpaired docs
    * are their own singleton cluster. Fixture binding of
    * [[graft.api.TrainingData.dedupSurvivors]] over the cached pair
    * relation (shared with x26/x26e). */
  def x26gSurvivors(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.dedupSurvivors(
      t(s, d, "documents"), "doc_id", "n_chars", persistLabels(s, d))
      .orderBy(col("cluster_id"))

  /** X26 — sparse TF-IDF cosine near-dup pairs via an inverted-index
    * equi-join (posting lists), the third near-dup representation next to
    * shingle-Jaccard and embedding cosine. Fixture binding of
    * [[graft.api.TrainingData.tfidfCosinePairs]] (see there for the
    * integer-quantized determinism design and the df stopword cut). */
  def x26hTfidfNearDup(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.tfidfCosinePairsFromWeights(
      persistTfidfWeights(s, d), 0.8)
      .orderBy(col("d1"), col("d2"))

  // the quantized tf·idf weight relation: the pair pipeline references it
  // on three branches (norms + both posting-list join sides), so the
  // tokenize→tf→df→idf build is paid once per app/dir, not per branch
  private def persistTfidfWeights(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.tfidfWeights", s, d)(
      PerAppCache.persistSpread(s, graft.api.TrainingData.tfidfWeights(
        t(s, d, "documents"), "doc_id", "text", 0.5)))

  /** X25 — incremental-ingest exact dedup: a simulated re-crawl (every
    * fifth corpus doc re-keyed as a new id) unioned with genuinely new
    * docs, admitted against the existing corpus — the re-crawled content
    * must be dropped, the new docs kept. Fixture binding of
    * [[graft.api.TrainingData.dedupAgainstCorpus]]. */
  def x25bDedupIncrement(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val recrawl = corpus.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    val increment = docs.filter(col("doc_id") >= 250).unionByName(recrawl)
    graft.api.TrainingData.dedupAgainstCorpus(increment, corpus, "text")
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** X35 — C4-style span-level dedup across the corpus: 3-token spans,
    * every occurrence after the corpus-wide first removed, documents
    * reassembled. Fixture binding of
    * [[graft.api.TrainingData.spanDedup]] (see there for the scale shape:
    * cut → first-occurrence argmin → mark join → reassemble). */
  def x35SpanDedup(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.spanDedup(t(s, d, "documents"), "doc_id", "text", 3)
      .orderBy(col("doc_id"))

  /** X33 — cross-corpus contamination scan (decontamination): probes =
    * docs with doc_id < 50 standing in for an eval set, corpus = the
    * rest; emit corpus docs containing ≥ half of a probe's shingles.
    * Fixture binding of [[graft.api.TrainingData.contaminationPairs]]. */
  def x33Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    graft.api.TrainingData.contaminationPairs(
      docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
      "doc_id", "text", 0.5)
      .orderBy(col("probe_id"), col("corpus_id"))
  }

  /** X26 — CLUSTER-AWARE deterministic split: every document inherits
    * the split of its near-dup CLUSTER (content-addressed bucket of the
    * cluster id, singletons = their own id) → (doc_id, cluster_id,
    * bucket, split). Splitting by document id lets near-duplicate pairs
    * straddle train and test — the model then "generalizes" to eval rows
    * it effectively memorized; hashing the cluster label instead keeps
    * every duplicate family in ONE split by construction (the
    * group-aware split eval hygiene requires, same motivation as x33c).
    * Rides the shared cached label relation, so this query, x26e, and
    * x26g can never disagree on what a cluster is. */
  def x26iClusterSplit(s: SparkSession, d: String): DataFrame = {
    val lab = persistLabels(s, d)
    graft.api.TrainingData.deterministicSplit(
      t(s, d, "documents").select(col("doc_id"))
        .join(lab.select(col("id"), col("label")),
          col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id")),
      "cluster_id", Seq(("train", 80), ("val", 10), ("test", 10)))
      .select(col("doc_id"), col("cluster_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** X33 — SPLIT decontamination, the composition the scan exists for:
    * probes = the deterministic TEST split, corpus = the TRAIN split
    * (the x31 content-addressed 80/10/10 assignment), emitting train
    * docs that contain ≥ 0.4 of a test doc's shingles — "is my training
    * set leaking my eval set". Because both sides derive from the SAME
    * content-addressed split the pipeline itself would use, the scan is
    * stable across runs, engines, and re-partitioning — a randomSplit
    * here would silently scan a different leak set every run. */
  def x33cSplitDecontam(s: SparkSession, d: String): DataFrame = {
    val split = persistSplit(s, d)
    graft.api.TrainingData.contaminationPairs(
      split.filter(col("split") === "train").select(col("doc_id"), col("text")),
      split.filter(col("split") === "test").select(col("doc_id"), col("text")),
      "doc_id", "text", 0.4)
      .orderBy(col("probe_id"), col("corpus_id"))
  }

  // the split relation feeds BOTH contamination sides (train corpus,
  // test probes) and its predicate is hash-derived — NOT pushdownable —
  // so two filter branches over the unpersisted relation would re-read
  // documents.parquet twice (2× I/O at 100 TB for zero pruning).
  // Materialized once per app/dir; PlanSpec asserts the single scan.
  private def persistSplit(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.split", s, d)(
      PerAppCache.persistSpread(s, graft.api.TrainingData.deterministicSplit(
        t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id",
        Seq(("train", 80), ("val", 10), ("test", 10)))))

  /** X33 — NORMALIZED contamination (the GPT-3 appendix-C rule): both
    * sides pass through [[graft.api.TrainingData.normalizeForDecontam]]
    * — lowercase, punctuation stripped, ALL whitespace collapsed —
    * before shingling. The raw scan ([[x33Contamination]]) tokenizes on
    * single spaces, so a training copy that re-punctuates or re-wraps an
    * eval doc ("fox. jumps" / "fox\njumps") produces different shingles
    * and escapes it; the normalized scan catches exactly that class
    * (spec-demonstrated perturbation pairs). Same probe/corpus split and
    * threshold as x33, so the two results diff cleanly. */
  def x33dContaminationNormalized(s: SparkSession, d: String): DataFrame = {
    val norm = graft.api.TrainingData.normalizeForDecontam(
      t(s, d, "documents"), "doc_id", "text")
    graft.api.TrainingData.contaminationPairs(
      norm.filter(col("doc_id") >= 50), norm.filter(col("doc_id") < 50),
      "doc_id", "norm_text", 0.5)
      .orderBy(col("probe_id"), col("corpus_id"))
  }

  /** X33 (scale path) — contamination with the corpus-side Bloom
    * prefilter. Result equals [[x33Contamination]] (the exact shingle join
    * drops the Bloom's false positives), so it shares x33's oracle SQL.
    * Fixture binding of [[graft.api.TrainingData.contaminationPairsBloom]]. */
  def x33bContaminationBloom(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    graft.api.TrainingData.contaminationPairsBloomFromShingles(
      graft.api.TrainingData.shingles(
        docs.filter(col("doc_id") >= 50), "doc_id", "text"),
      persistProbeShingles(s, d), 0.5)
      .orderBy(col("probe_id"), col("corpus_id"))
  }

  // the probe-shingle relation (count + Bloom build + verify join each
  // scan it): keyed per app/dir so repeat constructions — two timed bench
  // runs, the PlanSpec schema sweep — reuse ONE cached copy instead of
  // stacking a new persisted relation per call
  private def persistProbeShingles(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.probeShingles", s, d)(
      PerAppCache.persistSpread(s, graft.api.TrainingData.shingles(
        t(s, d, "documents").filter(col("doc_id") < 50), "doc_id", "text")))

  /** X114 — shared-prefix boilerplate clusters at 64 chars: the
    * template-header detector between exact dedup (x25) and span dedup
    * (x35). Fixture binding of
    * [[graft.api.TrainingData.prefixBoilerplate]]. */
  def x114PrefixBoilerplate(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.prefixBoilerplate(
      t(s, d, "documents"), "doc_id", "text", prefixLen = 64)
      .orderBy(col("prefix_hash"))

  /** X59 — corpus version diff: the fixture plays two crawl dumps from
    * one table — new drops every 7th doc (removed), rewrites every 5th
    * (changed), and re-ingests every 11th under a shifted id (added) —
    * and [[graft.api.TrainingData.corpusDiff]] classifies every id.
    * The oracle replays the perturbation and the full-outer hash
    * compare. */
  def x59CorpusDiff(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val newDump = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .union(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    graft.api.TrainingData.corpusDiff(docs, newDump, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** X63 — source-pair KL-divergence matrix over the fixture's 20
    * sources: the distribution-drift data-map next to x50's dup matrix.
    * Fixture binding of [[graft.api.TrainingData.sourceKlMatrix]] —
    * the Spark side runs the sparse closed-form decomposition, the
    * oracle sums the dense vocabulary × sources relation; hash equality
    * proves the decomposition. */
  def x63SourceKl(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.sourceKlMatrix(
      t(s, d, "documents"), "source", "text")
      .orderBy(col("src_a"), col("src_b"))

  /** X62 — per-doc curation verdict report over the fixture cascade:
    * corpus = docs with id ≥ 50, probes = the id < 50 eval stand-in,
    * near-dup survivorship by n_chars, quality floor at 100 chars.
    * Fixture binding of [[graft.api.TrainingData.curationVerdicts]]. */
  def x62CurationReport(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.x62Report", s, d) {
      val docs = t(s, d, "documents")
      // the verdict relation is one small row per doc, but the cascade
      // behind it (pair verifier + eager cluster closure + containment)
      // rebuilds per CONSTRUCTION — cache per app/dir like the other
      // composite fixtures so schema-only consumers and repeat timings
      // read the settled relation
      graft.api.TrainingData.curationVerdicts(
        docs.filter(col("doc_id") >= 50), "doc_id", "text", "n_chars",
        docs.filter(col("doc_id") < 50), jaccardThreshold = 0.5,
        containmentThreshold = 0.5, minScore = 100.0).persist()
    }.orderBy(col("doc_id"))

  /** X60 — n-gram novelty: each doc with id ≥ 250 scored for the
    * fraction of its shingles absent from the id < 250 reference half —
    * the new-crawl triage measure. Fixture binding of
    * [[graft.api.TrainingData.ngramNovelty]]. */
  def x60NgramNovelty(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    graft.api.TrainingData.ngramNovelty(
      docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
      "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** X26 — 32-bit SimHash over token frequencies: per bit, sum +tf/−tf by
    * the token hash's bit value; the sign becomes the fingerprint bit.
    * Deterministic (integer sums). Near-dup docs differ in few bits.
    * Token bits come from the portable [[sha32]] hash, so the fingerprint
    * values themselves are replayed bit-for-bit by the DuckDB oracle. */
  def simhash(s: SparkSession, d: String): DataFrame =
    persistSimhash(s, d).orderBy(col("doc_id"))

  /** The (doc_id, simhash) signature relation of any (doc_id, text)
    * corpus — shared by the x26c fixture and the x86 Hamming pair scan
    * (which references it on three plan branches). */
  private[graft] def simhashSignatures(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // hash hoisted into ONE projected column: referencing
      // sha32(tok) inside all 32 per-bit sums would evaluate the hash
      // 32× per row on the interpreted path (subexpression elimination is
      // a codegen-only optimization)
      .withColumn("h", sha32(col("tok")))
    val bitSums = tf.groupBy(col("doc_id")).agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(lit(1L)) === 1L,
        col("tf")).otherwise(-col("tf"))).as("s_0"),
      (1 until 32).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L,
          col("tf")).otherwise(-col("tf"))).as(s"s_$b")): _*)
    bitSums.select(col("doc_id"),
      (0 until 32).map(b => when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  private def persistSimhash(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.simhash", s, d)(
      PerAppCache.persistSpread(s,
        simhashSignatures(t(s, d, "documents").select(col("doc_id"), col("text")))))

  /** X86 — simhash Hamming-neighbor pairs at distance ≤ 3: the
    * Manku/Google near-dup detector as an EXACT banded join — the 32-bit
    * signature splits into 4 bytes; pigeonhole guarantees any pair
    * within Hamming 3 shares at least one intact byte, so the band
    * equi-join has FULL recall (unlike the probabilistic SRP/MinHash
    * paths) and every candidate verifies by popcount. Rides the SHARED
    * signature cache. Fixture binding of
    * [[graft.api.TrainingData.simhashHammingPairsFromSignatures]]. */
  def x86SimhashPairs(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData
      .simhashHammingPairsFromSignatures(persistSimhash(s, d), maxHamming = 3)
      .orderBy(col("d1"), col("d2"))

  /** X67 — winnowing fingerprint pairs (MOSS local fingerprinting):
    * shared-min-hash-window document pairs with positional evidence —
    * the contiguous-overlap detector at ~2/(w+1) the shingle relation's
    * density. Fixture binding of
    * [[graft.api.TrainingData.winnowingPairs]] (k = 3, window = 4). */
  def x67WinnowPairs(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.winnowingPairs(
      t(s, d, "documents"), "doc_id", "text", k = 3, window = 4)
      .orderBy(col("d1"), col("d2"))

  /** X68 — contamination SPAN offsets: the x33 scan upgraded from
    * "which documents leak" to "which token ranges leak" — maximal runs
    * of probe-matched k-gram positions, the input to a surgical
    * span-excision decontamination pass. Same probe convention as x33
    * (doc_id < 50 stands in for the eval set). Fixture binding of
    * [[graft.api.TrainingData.contaminationSpans]]. */
  def x68ContamSpans(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    graft.api.TrainingData.contaminationSpans(
      docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
      "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("probe_id"), col("start_pos"))
  }

  /** X133 — span EXCISION over the x68 spans: rebuild each corpus
    * document's token stream with every contaminated k-gram span
    * removed (coverage-merged across probes) — the surgical
    * decontamination that keeps the document and drops only the leaked
    * run, where x62's contamination rule drops whole documents. Fixture
    * binding of [[graft.api.TrainingData.exciseSpans]] over
    * [[graft.api.TrainingData.contaminationSpans]]. */
  def x133SpanExcision(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpus = docs.filter(col("doc_id") >= 50)
    graft.api.TrainingData.exciseSpans(
      corpus,
      graft.api.TrainingData.contaminationSpans(
        corpus, docs.filter(col("doc_id") < 50), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("start_pos"), col("end_pos")),
      "doc_id", "text", k = 3)
      .orderBy(col("doc_id"))
  }

  /** X135 — duplicated-shingle mass per source: how much of each
    * source's raw text a model effectively sees twice (token-mass
    * exposure, not document pairs — pair-free by construction). Rides
    * the SHARED shingle cache. Fixture binding of
    * [[graft.api.TrainingData.dupShingleMass]]. */
  def x135DupMass(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.dupShingleMass(
      persistShingles(s, d), t(s, d, "documents"), "doc_id", "source")
      .orderBy(col("grp"))

  /** X137 — sorted-neighborhood candidate pairs (multi-key SNM, window
    * 3): the record-linkage blocking mechanism beside hash banding and
    * sorted prefixes — catches near-dups whose shared part IS the sort
    * key (leading boilerplate, shared titles) at n·w pairs per pass.
    * Fixture binding of
    * [[graft.api.TrainingData.sortedNeighborhoodPairs]]. */
  // the SNM pair relation is consumed by both x137 (the pairs) and
  // x137b (the recall audit) — computed once per app per fixture
  private def persistSnmPairs(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.snmPairs", s, d)(
      PerAppCache.persistSpread(s, graft.api.TrainingData
        .sortedNeighborhoodPairs(
          t(s, d, "documents"), "doc_id", "text", w = 3)))

  def x137SortedNeighborhood(s: SparkSession, d: String): DataFrame =
    persistSnmPairs(s, d).orderBy(col("d1"), col("d2"))

  /** X137b — sorted-neighborhood recall audit: the SNM candidates
    * (either key pass, window 3) measured against the EXACT near-dup
    * pair relation (the shared x26 cache) → one row (n_exact, n_cand,
    * n_caught, recall_micro, precision_micro). The x107 audit pattern
    * applied to the third candidate mechanism — it QUANTIFIES the
    * single-pass block-boundary misses the two-key design trades for
    * shuffle-free per-block ranking (the round-11 carry-forward): a
    * recall below ~950 000 on a real corpus says the window or the key
    * count needs to grow before SNM is trusted as the only blocker. */
  def x137bSnmRecallAudit(s: SparkSession, d: String): DataFrame = {
    val exact = persistPairs(s, d).select(col("d1"), col("d2"))
    val cand = persistSnmPairs(s, d).select(col("d1"), col("d2"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(exact.join(cand, Seq("d1", "d2"))
        .agg(count(lit(1)).as("n_caught")))
      .select(col("n_exact"), col("n_cand"), col("n_caught"),
        when(col("n_exact") === 0L, lit(null).cast("long"))
          .otherwise(expr("(n_caught * 1000000L) div n_exact"))
          .as("recall_micro"),
        when(col("n_cand") === 0L, lit(null).cast("long"))
          .otherwise(expr("(n_caught * 1000000L) div n_cand"))
          .as("precision_micro"))
  }

  /** Transposition-aware typo/OCR near-dup pairs: records blocked on
    * (first `blockPrefix` chars of the lowercased key, exact length),
    * then TRUE Damerau–Levenshtein ≤ `maxDist` within each block via
    * the native codegen expression
    * [[graft.functions.DamerauLevenshtein]] — the edit-distance
    * blocker for SHORT keys (names, titles, normalized lines) where
    * transpositions dominate ("teh"→"the" is 1 edit here, 2 under
    * x93's plain Levenshtein, so a radius-1 block only this metric
    * fills). Emits both distances and their gap — the measured count
    * of transpositions the plain metric overprices. Output:
    * (id1, id2, dl, lev, transposition_gain), id1 < id2.
    *
    * Scale shape: one equi-join on the block key (never all-pairs);
    * the O(|s|²) matrix runs row-local on ≤ blocked candidates. The
    * block is prefix+length, so a typo in the FIRST `blockPrefix`
    * chars escapes the block — run a second pass on a reversed or
    * offset key for coverage, the x137 two-key convention. */
  /** Shared candidate generator for the blocked string-metric
    * near-dup families (x150 DL, x174 JW): builds the (prefix, length)
    * block key, then emits candidate pairs with the per-block
    * quadratic BOUNDED — blocks at or under `maxBlockSize` compare
    * all pairs exactly (the fixture regime: the oracle replays this
    * branch verbatim), while OVERSIZED blocks fall back to
    * sorted-neighborhood within the block (members ranked by (key,
    * id), pairs only within `window` ranks — near-identical keys sort
    * adjacent, the x137 SNM argument). This is the round-14 fix for
    * the measured 100× blow-up: the all-pairs form ran x150's 100×
    * point at 8 848 s (ratio 3 973 — per-block quadratic, exactly the
    * SNM caveat the Scaladoc predicted); windowed sub-blocking caps
    * per-member work at `window` comparisons. Recall on oversized
    * blocks is within-window only — the documented tradeoff; raise
    * `blockPrefix` to shrink blocks when exactness matters. */
  private def blockedCandidates(rows: DataFrame, idCol: String,
      keyCol: String, blockPrefix: Int, maxBlockSize: Int,
      window: Int): DataFrame = {
    val base = rows
      .filter(col(idCol).isNotNull && col(keyCol).isNotNull)
      .select(col(idCol).as("id"), lower(col(keyCol)).as("s"))
      // block key uses length(s) AFTER lowercasing — Java toLowerCase
      // can change string length (e.g. İ → i̇), so the oracle mirrors
      // length(lower(...)) exactly. Caveat (next to the BMP note on the
      // DL expression): Spark `length` counts UTF-16 units, DuckDB
      // counts codepoints — identical on BMP text, divergent on
      // supplementary planes; keys are expected BMP.
      .withColumn("blk", concat_ws("|",
        substring(col("s"), 1, blockPrefix),
        length(col("s")).cast("string")))
    val wCnt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk"))
    val wRnk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("blk")).orderBy(col("s"), col("id"))
    // materialized ONCE (r16): `sized` feeds four consumers (both sides
    // of the small-block self-join, and both sides of the oversized
    // banded join), and without the checkpoint each consumer re-executes
    // the corpus scan + the two block windows — 4 corpus window-sorts
    // where one suffices. The checkpointed row is (id, key, blk, bn, rn)
    // ≈ key-width bytes/row, MEMORY_AND_DISK — the guide-§8 shape:
    // enumerate the decision relation once, read it four times.
    val sized = base
      .withColumn("bn", count(lit(1)).over(wCnt))
      .withColumn("rn", row_number().over(wRnk))
      .localCheckpoint(true)
    val small = sized.filter(col("bn") <= maxBlockSize)
    val exact = small.as("a").join(small.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.s").as("s1"), col("b.s").as("s2"))
    // rank-BUCKET banding (the asOfJoin discipline): a bare range
    // predicate on rn would plan as an equi-join on blk alone and
    // ENUMERATE every within-block pair before filtering — the same
    // quadratic the window exists to avoid. Buckets of width `window`
    // make (blk, bucket) the equi-key: a gap ≤ window pair spans at
    // most adjacent buckets, so the left side explodes over (k, k+1)
    // and per-key occupancy is ≤ 2·window — enumeration itself is
    // bounded, not just the surviving candidate count.
    val big = sized.filter(col("bn") > maxBlockSize)
      .withColumn("bkt", expr(s"(rn - 1) div $window"))
    val windowed = big
      .withColumn("jb", explode(array(col("bkt"), col("bkt") + 1)))
      .as("a")
      .join(big.as("b"),
        col("a.blk") === col("b.blk") && col("a.jb") === col("b.bkt") &&
          col("b.rn") > col("a.rn") &&
          col("b.rn") <= col("a.rn") + window)
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"),
        // metric args stay (a, b) — both metrics are symmetric
        col("a.s").as("s1"), col("b.s").as("s2"))
    exact.unionByName(windowed)
  }

  def typoNearDupPairs(rows: DataFrame, idCol: String, keyCol: String,
      blockPrefix: Int, maxDist: Int, maxBlockSize: Int = 256,
      window: Int = 32): DataFrame = {
    require(blockPrefix >= 1, s"need blockPrefix >= 1, got $blockPrefix")
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    require(maxBlockSize >= 2 && window >= 1,
      s"need maxBlockSize >= 2 and window >= 1, got ($maxBlockSize, $window)")
    typoNearDupPairsFromCandidates(
      blockedCandidates(rows, idCol, keyCol, blockPrefix, maxBlockSize,
        window), maxDist)
  }

  /** The DL verification stage split off [[typoNearDupPairs]] (r16):
    * x150 and x174 enumerate the IDENTICAL (prefix, length)-blocked
    * candidate relation and differ only in the verifying metric, so the
    * fixture bindings share one cached enumeration (the shingle/pair
    * cache discipline) and feed it to each metric here. */
  private[graft] def typoNearDupPairsFromCandidates(cand: DataFrame,
      maxDist: Int): DataFrame =
    cand
      .select(col("id1"), col("id2"),
        graft.functions.TextFunctions
          .damerau_levenshtein(col("s1"), col("s2")).cast("long").as("dl"),
        levenshtein(col("s1"), col("s2")).cast("long").as("lev"))
      .filter(col("dl") <= maxDist)
      .select(col("id1"), col("id2"), col("dl"), col("lev"),
        (col("lev") - col("dl")).as("transposition_gain"))

  /** X150 — typo near-dup pairs over a transposition-perturbed corpus:
    * every third document gets a twin (id + 10⁷) whose 40-char
    * normalized head has chars 9/10 swapped — the OCR/typo shape —
    * then [[typoNearDupPairs]] blocks on (8-char prefix, length) and
    * verifies with true Damerau–Levenshtein ≤ 2. The oracle holds the
    * native expression to DuckDB's own `damerau_levenshtein` on every
    * candidate pair — an exact cross-engine check of the
    * Lowrance–Wagner implementation itself. */
  /** The shared x150/x174 typo fixture: 40-char heads plus a
    * transposed-character twin for every third document. */
  private[graft] def typoFixture(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        length(col("text")) >= 40)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("head"))
    val twins = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(substring(col("head"), 1, 8),
          substring(col("head"), 10, 1), substring(col("head"), 9, 1),
          substring(col("head"), 11, 30)).as("head"))
    docs.unionByName(twins)
  }

  /** Cap-bind profile of the x150/x174 blocking at a corpus dir —
    * (n_blocks, n_capped, bind_fraction_micros): the share of
    * (prefix, length) blocks past the 256 cap. The sweep emits this
    * next to x150's scale ratio so the cap-transition region (blocks
    * legitimately grow quadratically UNTIL the cap binds, then the
    * windowed fallback flattens the curve) is machine-readable in the
    * artifact instead of re-argued from the ratio alone each round. */
  private[graft] def x150CapBindProfile(s: SparkSession,
      d: String): DataFrame =
    typoFixture(s, d)
      .select(lower(col("head")).as("s"))
      .withColumn("blk", concat_ws("|", substring(col("s"), 1, 8),
        length(col("s")).cast("string")))
      .groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum(when(col("bn") > 256, 1L).otherwise(0L)), lit(0L))
          .as("n_capped"))
      .select(col("n_blocks"), col("n_capped"),
        when(col("n_blocks") === 0, lit(0L))
          .otherwise(expr("(n_capped * 1000000L) div n_blocks"))
          .as("bind_fraction_micros"))

  // x150 and x174 verify DIFFERENT metrics over the IDENTICAL blocked
  // candidate enumeration of the same fixture (and crossJoin the same
  // 1-row regime count) — computed once per app per fixture, the
  // shingle/pair-cache discipline (r16; the enumeration pays 2 corpus
  // windows + the banded join, the dominant cost of both queries)
  private def persistTypoCandidates(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.typoCandidates", s, d)(
      blockedCandidates(typoFixture(s, d), "doc_id", "head",
        blockPrefix = 8, maxBlockSize = 256, window = 32)
        // AQE coalesces the enumeration to ONE partition (candidate
        // rows are narrow, so the byte-based advisory target packs all
        // ~55k of them together) — but the consumer runs TWO O(|s|²)
        // string-metric DPs per row, so byte-sized partitions serialize
        // the expensive stage on one core (measured: the whole warm
        // x150 run was 1.9 s single-threaded). Round-robin repartition
        // by the session's parallelism before persisting: CPU-heavy
        // verification scales with cores again (and with cluster size
        // at 100 TB — the knob is the scheduler's, not a constant).
        .repartition(s.sparkContext.defaultParallelism).persist())

  private def persistTypoOversized(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.typoOversized", s, d)(
      oversizedBlockCount(typoFixture(s, d), "doc_id", "head", 8, 256)
        .persist())

  def x150TypoNeardup(s: SparkSession, d: String): DataFrame =
    typoNearDupPairsFromCandidates(persistTypoCandidates(s, d), maxDist = 2)
      .crossJoin(broadcast(persistTypoOversized(s, d)))
      .orderBy(col("id1"), col("id2"))

  /** X152 — degree distribution + degree assortativity of the near-dup
    * graph over the SHARED x26 pair cache: the STRUCTURAL read x71/x72
    * rank node-by-node — positive assortativity = template families
    * quoting each other, strongly negative = a few boilerplate hubs
    * touching everything (killing the top-degree docs collapses the
    * graph). Fixture binding of
    * [[graft.api.TrainingData.dupGraphStats]]. */
  def x152DupGraphStats(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.dupGraphStats(persistPairs(s, d), "d1", "d2")

  /** X71 — triangle census of the near-dup graph: per-node triangle
    * count + local clustering coefficient over the SHARED verified pair
    * relation (x26's cache), separating clique-shaped duplicate
    * families from chain-shaped template drift. Fixture binding of
    * [[graft.api.TrainingData.triangleStats]]. */
  def x71DupTriangles(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.triangleStats(
      persistPairs(s, d).select(col("d1"), col("d2")))
      .orderBy(col("id"))

  /** X72 — PageRank centrality of the near-dup graph: which documents
    * ANCHOR duplicate families (x71 says what shape a family has; this
    * ranks its hubs). Integer micro-unit arithmetic makes the iterative
    * result partitioning-independent and oracle-replayable. Rides the
    * SHARED verified pair relation (x26's cache). Fixture binding of
    * [[graft.api.TrainingData.pageRankMicro]] (5 iterations, d = 0.85). */
  def x72DupPagerank(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.pageRankMicro(
      persistPairs(s, d).select(col("d1"), col("d2")))
      .orderBy(col("id"))

  /** X78 — asymmetric containment pairs at C ≥ 0.8: quotes/excerpts/
    * doc-in-doc duplication that symmetric Jaccard misses (a short doc
    * fully inside a long one has J ≈ |short|/|long|). Rides the SHARED
    * shingle cache; both orientations from the one co-occurrence join.
    * Fixture binding of
    * [[graft.api.TrainingData.containmentPairsFromShingles]]. */
  def x78ContainmentPairs(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData
      .containmentPairsFromShingles(persistShingles(s, d), 0.8)
      .orderBy(col("contained_id"), col("container_id"))

  /** X92 — prefix-filtered exact Jaccard join at τ = 7/10: the
    * AllPairs candidate cut (rarest-shingle prefixes under one global
    * order, integer length filter) feeding an exact verification join
    * — same answer an all-co-occurrences scan produces, from a
    * candidate set bounded by rare-shingle collisions. Rides the
    * SHARED shingle cache. Fixture binding of
    * [[graft.api.TrainingData.jaccardPrefixPairsFromShingles]]. */
  def x92JaccardPrefix(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData
      .jaccardPrefixPairsFromShingles(persistShingles(s, d), 7L, 10L)
      .orderBy(col("d1"), col("d2"))

  /** X93 — blocked fuzzy dictionary resolution over part names:
    * DISTINCT spellings matched at Levenshtein ≤ 2 within last-token
    * blocks, oriented variant → canonical by row support. Fixture
    * binding of [[graft.api.TrainingData.fuzzyResolvePairs]]. */
  def x93FuzzyResolve(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.fuzzyResolvePairs(t(s, d, "part"), "p_name", 2)
      .orderBy(col("variant"), col("canonical"))

  /** X98 — train→eval near-dup leakage audit: every val/test document
    * (deterministic 80/10/10 split, the x31 assignment) with at least
    * one near-dup in TRAIN under the SHARED x26 pair relation — the
    * eval-hygiene scan run before any benchmark number ships, and the
    * whole-document complement of x33's probe-containment decontam.
    * Fixture binding of [[graft.api.TrainingData.splitLeakage]]. */
  def x98SplitLeakage(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.splitLeakage(
      persistPairs(s, d),
      graft.api.TrainingData.deterministicSplit(
        t(s, d, "documents").select(col("doc_id")), "doc_id",
        Seq(("train", 80), ("val", 10), ("test", 10))),
      "doc_id", "split")
      .orderBy(col("doc_id"))

  /** X104 — corpus-resemblance matrix: exact Jaccard between each
    * source pair's DISTINCT shingle sets (Broder's resemblance at the
    * CORPUS grain — x50 counts near-dup doc pairs; this sees wholesale
    * overlap even when no doc pair crosses the threshold). Rides the
    * SHARED shingle cache. Fixture binding of
    * [[graft.api.TrainingData.sourceJaccardMatrix]]. */
  def x104SourceJaccard(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.sourceJaccardMatrix(
      persistShingles(s, d), t(s, d, "documents"), "doc_id", "source")
      .orderBy(col("src_a"), col("src_b"))

  /** Jaro–Winkler near-dup pairs over (prefix, length)-blocked
    * candidates — the NAME/TITLE matcher beside [[typoNearDupPairs]]'s
    * edit-distance metric: JW's windowed matching tolerates
    * transposed-word and shuffled-character noise that DL prices per
    * edit, and record linkage thresholds it directly (≥ 0.9 ≈ "same
    * entity" in the classic literature). Same block shape as x150 —
    * per-block quadratic bounded by block occupancy, the SNM caveat. */
  def jwNearDupPairs(rows: DataFrame, idCol: String, keyCol: String,
      blockPrefix: Int, minJwMicros: Long, maxBlockSize: Int = 256,
      window: Int = 32): DataFrame = {
    require(blockPrefix >= 1, s"need blockPrefix >= 1, got $blockPrefix")
    require(minJwMicros >= 0 && minJwMicros <= 1000000,
      s"minJwMicros must be in [0, 1e6], got $minJwMicros")
    require(maxBlockSize >= 2 && window >= 1,
      s"need maxBlockSize >= 2 and window >= 1, got ($maxBlockSize, $window)")
    jwNearDupPairsFromCandidates(
      blockedCandidates(rows, idCol, keyCol, blockPrefix, maxBlockSize,
        window), minJwMicros)
  }

  /** JW verification over a pre-enumerated candidate relation — the
    * x174 half of the shared-candidates split (see
    * [[typoNearDupPairsFromCandidates]]). */
  private[graft] def jwNearDupPairsFromCandidates(cand: DataFrame,
      minJwMicros: Long): DataFrame =
    cand
      .select(col("id1"), col("id2"),
        // one shared ·10⁶ rounding of the bit-exact double (the
        // expression reproduces DuckDB's builtin bit-for-bit — §5i-2)
        graft.functions.TextFunctions
          .jaro_winkler(col("s1"), col("s2")).as("jw_raw"))
      .select(col("id1"), col("id2"),
        expr("CAST(round(jw_raw * 1000000.0, 0) AS BIGINT)")
          .as("jw_micros"))
      .filter(col("jw_micros") >= minJwMicros)

  /** Canonical URL form for crawl dedup — the fixed normalization
    * chain every web-corpus pipeline runs before exact URL dedup:
    * (1) strip the fragment (#… never reaches the server), (2) drop
    * utm_* tracking params (leading, trailing, and mid-query — the
    * three positional rules avoid replacement backreferences, whose
    * $1-vs-\1 spelling differs across regex dialects; the '&'-prefixed
    * rule runs FIRST so a run of consecutive utm params collapses to
    * at most one leading param before the '?' rules fire — a single
    * global pass never rescans text formed by its own replacements,
    * so '?utm_a=1&utm_b=2&x=1' needs the '&utm_b' strip before the
    * leading rule can see '?utm_a=1&x=1'), (3) lowercase
    * scheme://host[:port] ONLY (paths are case-sensitive by RFC 3986)
    * and strip the default :80 — anchored `:80$` is safe because it
    * runs on the EXTRACTED authority substring alone, (4) trim
    * trailing slashes (empty path ≡ root). `www.` is NOT stripped —
    * host and www-host are distinct origins in general. Every step is
    * a row-local regexp in the RE2∩Java intersection dialect (the
    * x151 discipline), so the oracle replays it byte-for-byte. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val noUtm = regexp_replace(
      regexp_replace(
        regexp_replace(noFrag, "&utm_[a-z]+=[^&#]*", ""),
        "\\?utm_[a-z]+=[^&#]*&", "?"),
      "\\?utm_[a-z]+=[^&#]*$", "")
    val authority = regexp_replace(
      lower(regexp_extract(noUtm, "^([^/]*//[^/]*)", 1)), ":80$", "")
    val path = regexp_extract(noUtm, "^[^/]*//[^/]*(.*)$", 1)
    rtrim(concat(authority, path), "/")
  }

  /** Exact URL dedup groups over [[canonicalUrl]] →
    * (canon_url, n_docs, n_raw_forms, rep_doc_id): how many raw
    * variants collapse into each canonical URL and the minimum-id
    * representative — the crawl-frontier dedup read. One row-local
    * projection + one map-side-combined aggregation; dedup at any
    * scale is the groupBy's shuffle on the canonical key. */
  def urlDedup(rows: DataFrame, idCol: String, urlCol: String): DataFrame =
    rows
      .filter(col(idCol).isNotNull && col(urlCol).isNotNull)
      .select(col(idCol).as("id"), col(urlCol).as("url"))
      .withColumn("canon_url", canonicalUrl(col("url")))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_raw_forms"),
        min(col("id")).as("rep_doc_id"))
      .orderBy(col("canon_url"))

  /** X164 — canonical-URL dedup over an id-arithmetic synthetic crawl
    * frontier (the x66/x151 injection pattern: scheme/host case, www
    * flags, default :80, trailing slash, utm params, and fragments all
    * keyed off doc_id so both engines generate identical raw URLs):
    * variants that differ only in case/port/slash/utm/fragment
    * collapse to one canonical group. Fixture binding of
    * [[urlDedup]]. */
  def x164UrlCanon(s: SparkSession, d: String): DataFrame = {
    val urls = t(s, d, "documents")
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), concat(
        lit("HTTP://"),
        when(col("doc_id") % 4 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Site"), (col("doc_id") % 37).cast("string"),
        lit(".ExAmple.com"),
        when(col("doc_id") % 5 === 0, lit(":80")).otherwise(lit("")),
        lit("/Page/"), (col("doc_id") % 11).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&id="),
            (col("doc_id") % 13).cast("string")))
          .otherwise(when(col("doc_id") % 7 === 0,
            lit("?utm_campaign=x")).otherwise(lit(""))),
        when(col("doc_id") % 6 === 0, lit("#section")).otherwise(lit("")))
        .as("url"))
    urlDedup(urls, "doc_id", "url")
  }

  /** X174 — Jaro–Winkler near-dup pairs over the SAME
    * transposition-perturbed corpus as x150, thresholded at the
    * record-linkage 0.9: the DL and JW verdicts on identical
    * candidates can be read side by side (DL prices the swap as one
    * edit; JW scores it as a tiny windowed mismatch). The oracle holds
    * the native expression to DuckDB's own `jaro_winkler_similarity`
    * on every candidate pair — value-exact after one shared ·10⁶
    * rounding (the expression is bit-identical to the builtin; §5i-2).
    * Fixture binding of [[jwNearDupPairs]]. */
  def x174JwNeardup(s: SparkSession, d: String): DataFrame =
    jwNearDupPairsFromCandidates(persistTypoCandidates(s, d),
        minJwMicros = 900000L)
      .crossJoin(broadcast(persistTypoOversized(s, d)))
      .orderBy(col("id1"), col("id2"))

  /** The regime a blocked string-metric oracle replays made VISIBLE
    * (ADVICE r14): [[oversizedBlockCount]] is a 1-row relation counting
    * (prefix, length) blocks past the cap — x150/x174 crossJoin it
    * into their output, so the count is itself hash-compared (0 in the
    * all-pairs regime the oracle enumerates; > 0 at sweep scale, where
    * the windowed fallback engages and the CORRECTNESS fixtures never
    * run). Fixture growth that would flip the pair rows hash-red now
    * also flips this column — the cause ships with the symptom.
    * [[blockRegimeGuard]] is the raise-style variant for compositions
    * that must NEVER leave the all-pairs regime (the guard column must
    * survive into a filter — a dropped projection would be pruned and
    * the raise_error with it). */
  private[graft] def oversizedBlockCount(rows: DataFrame, idCol: String,
      keyCol: String, blockPrefix: Int, cap: Int): DataFrame =
    rows
      .filter(col(idCol).isNotNull && col(keyCol).isNotNull)
      .select(lower(col(keyCol)).as("s"))
      .withColumn("blk", concat_ws("|",
        substring(col("s"), 1, blockPrefix),
        length(col("s")).cast("string")))
      .groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .agg(coalesce(sum(when(col("bn") > cap, 1L).otherwise(0L)), lit(0L))
        .as("n_oversized_blocks"))


  private[graft] def blockRegimeGuard(rows: DataFrame, idCol: String,
      keyCol: String, blockPrefix: Int, cap: Int): DataFrame =
    rows
      .filter(col(idCol).isNotNull && col(keyCol).isNotNull)
      .select(lower(col(keyCol)).as("s"))
      .withColumn("blk", concat_ws("|",
        substring(col("s"), 1, blockPrefix),
        length(col("s")).cast("string")))
      .groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .agg(coalesce(max(col("bn")), lit(0L)).as("max_bn"))
      .select(
        when(col("max_bn") > cap, expr(
          s"raise_error('blocked near-dup fixture left the all-pairs" +
            s" regime (a block exceeds $cap): the oracle replays the" +
            " exact branch only; raise blockPrefix or re-derive the" +
            " oracle')").cast("int"))
          .otherwise(lit(1)).as("regime_ok"))

  /** The forced-oversized fixture shared by x150b and x191: 6 base
    * documents × 280 digit-spliced variants, doc id baked into the
    * block prefix → every block holds exactly its 280 variants. */
  private def digitVariants(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .filter(col("doc_id").isNotNull && col("doc_id") < 6 &&
        col("text").isNotNull && length(col("text")) >= 40)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("head"),
        explode(expr("sequence(0, 279)")).as("k"))
      .select((col("doc_id") * 1000 + col("k")).as("id"),
        concat(lit("d"), lpad(col("doc_id").cast("string"), 3, "0"),
          substring(col("head"), 1, 4),
          lpad(col("k").cast("string"), 4, "0"),
          substring(col("head"), 13, 12)).as("key"))
      .localCheckpoint(true) // bounded (≤ 1680 rows), feeds 3 branches

  // the three queries over the digit-variants fixture (x150b, x150c,
  // x191) re-derive the same three pair relations: the forward capped
  // pass (x150b's "windowed", x150c's capA, x191's capture A), the
  // reversed-key capped pass (x150c capB, x191 capture B), and the
  // uncapped all-pairs ground-truth count (x150b, x150c). Each is
  // computed once per app per fixture (r16) — the ground truth is the
  // family's deliberate quadratic (~235k DL matrix evaluations on the
  // FIXED fixture) and was being paid twice.
  private def persistDigitVariants(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.digitVariants", s, d)(digitVariants(s, d))

  private def persistDigitCapA(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.digitCapA", s, d)(
      typoNearDupPairs(persistDigitVariants(s, d), "id", "key",
        blockPrefix = 8, maxDist = 2)
        .select(col("id1"), col("id2")).persist())

  private def persistDigitCapB(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.digitCapB", s, d)(
      typoNearDupPairs(
        persistDigitVariants(s, d)
          .select(col("id"), reverse(col("key")).as("key")),
        "id", "key", blockPrefix = 8, maxDist = 2)
        .select(col("id1"), col("id2")).persist())

  private def persistDigitExactCount(s: SparkSession, d: String): DataFrame =
    cachedPerApp("DedupOps.digitExactCount", s, d)(
      typoNearDupPairs(persistDigitVariants(s, d), "id", "key",
        blockPrefix = 8, maxDist = 2, maxBlockSize = 1 << 20)
        .agg(count(lit(1)).as("n_exact")).persist())

  /** X183 (registered as x150b_window_recall) — windowed-fallback
    * recall audit on the [[digitVariants]] fixture FORCED over the
    * block cap (the x137b/x107 audit pattern pointed at the
    * oversized-block regime the x150/x174 fixtures never enter): the
    * 4-digit counter spliced at chars 9–12 with the doc id baked into
    * the block prefix puts 280 variants in every block (> the 256 cap
    * → the windowed sorted-neighborhood path runs). The SAME corpus
    * through [[typoNearDupPairs]] twice — an uncapped all-pairs pass
    * (ground truth) and the default capped pass — yields the measured
    * miss rate of the w = 32 window: near-dup digit pairs ≤ 2 edits
    * apart but > 32 ranks apart in the sort are exactly what the
    * fallback trades for boundedness. Output: one row (n_blocks,
    * max_block, n_oversized, n_exact, n_windowed, recall_micro);
    * windowed candidates are a strict subset of all-pairs, so caught
    * ≡ n_windowed. Sized for the gate: keys are 24 chars and the
    * ground truth is ~235k DL matrix evaluations — the audit's
    * all-pairs half is the deliberate quadratic, bounded by the FIXED
    * fixture, never by corpus SF. */
  def x150bWindowRecall(s: SparkSession, d: String): DataFrame = {
    val variants = persistDigitVariants(s, d)
    val exact = persistDigitExactCount(s, d)
    val windowed = persistDigitCapA(s, d)
      .agg(count(lit(1)).as("n_windowed"))
    val blocks = variants
      .select(lower(col("key")).as("s"))
      .withColumn("blk", concat_ws("|", substring(col("s"), 1, 8),
        length(col("s")).cast("string")))
      .groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .agg(count(lit(1)).as("n_blocks"), max(col("bn")).as("max_block"),
        sum(when(col("bn") > 256, 1L).otherwise(0L)).as("n_oversized"))
    blocks.crossJoin(broadcast(exact)).crossJoin(broadcast(windowed))
      .select(col("n_blocks"), col("max_block"), col("n_oversized"),
        col("n_exact"), col("n_windowed"),
        when(col("n_exact") === 0, lit(null).cast("long"))
          .otherwise(expr("(n_windowed * 1000000L) div n_exact"))
          .as("recall_micro"))
  }

  /** X209 (registered as x150c_twopass_recall) — the recall the
    * windowed fallback RECOVERS with a second, differently-ordered
    * pass: x150b measured the single-pass w = 32 window at 0.399
    * recall on the forced-oversized fixture; this runs the SAME
    * corpus through the forward pass AND x191's reversed-key pass
    * (Damerau–Levenshtein is reversal-invariant, so the candidate
    * population is identical while the within-block sort — and hence
    * the window's misses — differ), unions the candidate sets, and
    * prices the two-pass mode against the same uncapped all-pairs
    * ground truth. The opt-in upgrade path for the oversized-block
    * regime: 2× the windowed cost, recall measured here — published
    * next to the single-pass figure, not asserted. Still bounded:
    * both passes are rank-windowed (≤ 32·n candidates each), only the
    * fixed fixture pays the exact quadratic. */
  def x150cTwopassRecall(s: SparkSession, d: String): DataFrame = {
    val exact = persistDigitExactCount(s, d)
    val capA = persistDigitCapA(s, d)
    val capB = persistDigitCapB(s, d)
    val nA = capA.agg(count(lit(1)).as("n_fwd"))
    val nB = capB.agg(count(lit(1)).as("n_rev"))
    val nU = capA.unionByName(capB).distinct()
      .agg(count(lit(1)).as("n_twopass"))
    nA.crossJoin(broadcast(nB)).crossJoin(broadcast(nU))
      .crossJoin(broadcast(exact))
      .select(col("n_fwd"), col("n_rev"), col("n_twopass"), col("n_exact"),
        when(col("n_exact") === 0, lit(null).cast("long"))
          .otherwise(expr("(n_twopass * 1000000L) div n_exact"))
          .as("recall_micro"))
  }

  /** X191 — Chapman capture–recapture estimate of the near-dup pair
    * population from TWO cheap windowed passes over the same
    * forced-oversized fixture as x150b: capture A is the forward
    * (prefix, length)-blocked sorted-neighborhood pass, capture B the
    * REVERSED-key pass (Damerau–Levenshtein is reversal-invariant, so
    * the population is identical while the within-block sort order —
    * and hence the window's misses — differ). N̂ = (n₁+1)(n₂+1)/(m+1)−1
    * estimates the all-pairs count x150b measures exactly — the
    * estimator a 100 TB corpus quotes when the ground-truth quadratic
    * is unaffordable, with x150b as its in-repo calibration. Fixture
    * binding of [[graft.api.TrainingData.chapmanEstimate]]. */
  def x191Chapman(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.chapmanEstimate(
      persistDigitCapA(s, d), persistDigitCapB(s, d), Seq("id1", "id2"))

  /** X196 — eigenvector centrality of the near-dup graph (5 rounds of
    * max-normalized power iteration on the SHARED x26 pair cache): the
    * dominant-component importance read beside x72's PageRank —
    * PageRank dilutes hubs by degree, this does not, so the densest
    * duplicate family's members rank first while satellite components
    * decay. Fixture binding of
    * [[graft.api.TrainingData.eigenvectorCentrality]]. */
  def x196EigenCentrality(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.eigenvectorCentrality(
      persistPairs(s, d).select(col("d1"), col("d2")))
      .orderBy(col("id"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x196_eigen_centrality" -> (x196EigenCentrality _),
    "x191_chapman" -> (x191Chapman _),
    "x150b_window_recall" -> (x150bWindowRecall _),
    "x150c_twopass_recall" -> (x150cTwopassRecall _),
    "x164_url_canon" -> (x164UrlCanon _),
    "x174_jw_neardup" -> (x174JwNeardup _),
    "x150_typo_neardup" -> (x150TypoNeardup _),
    "x152_dup_graph_stats" -> (x152DupGraphStats _),
    "x106_dup_concentration" -> (x106DupConcentration _),
    "x107_lsh_recall_audit" -> (x107LshRecallAudit _),
    "x104_source_jaccard" -> (x104SourceJaccard _),
    "x98_split_leakage" -> (x98SplitLeakage _),
    "x93_fuzzy_resolve" -> (x93FuzzyResolve _),
    "x92_jaccard_prefix" -> (x92JaccardPrefix _),
    "x86_simhash_pairs" -> (x86SimhashPairs _),
    "x78_containment" -> (x78ContainmentPairs _),
    "x72_dup_pagerank" -> (x72DupPagerank _),
    "x67_winnow_pairs" -> (x67WinnowPairs _),
    "x68_contam_spans" -> (x68ContamSpans _),
    "x71_dup_triangles" -> (x71DupTriangles _),
    "x133_span_excision" -> (x133SpanExcision _),
    "x135_dup_mass" -> (x135DupMass _),
    "x137_sorted_neighborhood" -> (x137SortedNeighborhood _),
    "x137b_snm_recall_audit" -> (x137bSnmRecallAudit _),
    "x25_exact_dedup" -> (x25Exact _),
    "x25b_dedup_increment" -> (x25bDedupIncrement _),
    "x26_ngram_jaccard" -> (x26Jaccard _),
    "x26b_minhash_lsh" -> (minhashPairs _),
    "x26c_simhash" -> (simhash _),
    "x26e_dedup_clusters" -> (x26eDedupClusters _),
    "x50_dup_matrix" -> (x50DupMatrix _),
    "x26g_survivors" -> (x26gSurvivors _),
    "x26h_tfidf_neardup" -> (x26hTfidfNearDup _),
    "x35_span_dedup" -> (x35SpanDedup _),
    "x33_contamination" -> (x33Contamination _),
    "x33b_contamination_bloom" -> (x33bContaminationBloom _),
    "x33c_split_decontam" -> (x33cSplitDecontam _),
    "x33d_contamination_norm" -> (x33dContaminationNormalized _),
    "x26i_cluster_split" -> (x26iClusterSplit _),
    "x59_corpus_diff" -> (x59CorpusDiff _),
    "x114_prefix_boilerplate" -> (x114PrefixBoilerplate _),
    "x117_incremental_admission" -> (x117IncrementalAdmission _),
    "x60_ngram_novelty" -> (x60NgramNovelty _),
    "x62_curation_report" -> (x62CurationReport _),
    "x63_source_kl" -> (x63SourceKl _))

  /** Shared oracle fragment: tokens → distinct 3-shingles → exact-Jaccard
    * `pairs(d1, d2)` at ≥ 0.5 — the DuckDB model of [[persistPairs]],
    * reused verbatim by the cluster closure below and the x50 matrix so
    * the replayed pair relation can never drift between consumers. */
  private val pairsOracleCtes =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(tk) - 1, 1)),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
      |  FROM toks),
      |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter) >= 0.5)""".stripMargin

  /** Shared oracle fragment: tokens → shingles → portable-hash MinHash
    * signatures → 4×4 band keys → DISTINCT candidate pairs `cand(d1, d2)`
    * — the DuckDB model of [[shaBandCandidates]], reused verbatim by the
    * x26b verification and the x107 recall audit so the replayed banding
    * can never drift between the two consumers. */
  private lazy val shaMinhashCandCtes: String = {
    val hCols = (0 until NumHashes).map(i =>
      s"((${aCoef(i)} * v + ${bCoef(i)}) % $P) AS h_$i").mkString(",\n    ")
    val sCols = (0 until NumHashes).map(i => s"min(h_$i) AS s_$i").mkString(", ")
    val bandSelects = (0 until NumHashes / BandSize).map { b =>
      val parts = (0 until BandSize)
        .map(r => s"CAST(s_${b * BandSize + r} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, concat_ws(',', '$b', $parts) AS bandkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(tk) - 1, 1)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
       |  FROM toks),
       |base AS (SELECT doc_id, ${hex32Sql("sh")} % 2147483648 AS v FROM sh),
       |hs AS (SELECT doc_id,
       |    $hCols
       |  FROM base),
       |sig AS (SELECT doc_id, $sCols FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.bandkey = b.bandkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Shared recursive-CTE oracle prefix: exact-Jaccard pairs → transitive
    * closure → `lab(id, cluster_id)` — the DuckDB model of
    * [[connectedComponents]], reused by x26e and x26g. */
  private val ccOracleCte =
    s"""WITH RECURSIVE $pairsOracleCtes,
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION ALL SELECT d2, d1 FROM pairs),
      |reach(id, m) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
      |lab AS (SELECT id, min(m) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  private val x33OracleSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(tk) - 1, 1)),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
      |  FROM toks),
      |ps AS (SELECT doc_id AS probe_id, sh FROM sh WHERE doc_id < 50),
      |cs AS (SELECT doc_id AS corpus_id, sh FROM sh WHERE doc_id >= 50),
      |pn AS (SELECT probe_id, count(*) AS ns FROM ps GROUP BY 1),
      |inter AS (
      |  SELECT probe_id, corpus_id, count(*) AS inter
      |  FROM ps JOIN cs USING (sh) GROUP BY 1, 2)
      |SELECT probe_id, corpus_id, inter,
      | round(CAST(inter AS DOUBLE) / ns, 6) AS containment
      |FROM inter JOIN pn USING (probe_id)
      |WHERE CAST(inter AS DOUBLE) / ns >= 0.5
      |ORDER BY probe_id, corpus_id""".stripMargin

  // per-POSITION 3-gram hash rows (p, h) over the portable sha32 hash —
  // the winnowing/span oracles' shared prefix. Unlike the Jaccard `sh`
  // CTE this keeps positions and multiplicity (winnowing windows and
  // span offsets are positional by definition).
  private def kgramPosCtes: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
       |  FROM documents),
       |kg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
       |    i -> {'p': i, 'g': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]})) AS u
       |  FROM toks WHERE len(tk) >= 3),
       |kh AS (SELECT doc_id, u.p AS p, ${hex32Sql("u.g")} AS h FROM kg)""".stripMargin

  // the x72 iteration unrolled as CTEs r0..rN: each round is one
  // join + re-aggregation in pure BIGINT arithmetic (// is DuckDB floor
  // division — identical to Spark's `div` truncation on these
  // always-positive operands), so the replay is exact, not approximate
  private def eigenRoundsSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""s$i AS (
         |  SELECT e.dst AS id, CAST(sum(p.e) AS BIGINT) AS s
         |  FROM edges e JOIN r${i - 1} p ON p.id = e.src GROUP BY 1),
         |m$i AS (SELECT max(s) AS mx FROM s$i),
         |r$i AS (SELECT id, CAST((1000000 * CAST(s AS HUGEINT)) // mx
         |    AS BIGINT) AS e FROM s$i, m$i)""".stripMargin
    }
    rounds.mkString(",\n")
  }

  private def pagerankRoundsSql(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT a.dst AS id,
         |    CAST(150000 + (85 * sum(p.r // a.degree)) // 100 AS BIGINT) AS r
         |  FROM adj a JOIN r${i - 1} p ON p.id = a.src GROUP BY 1)""".stripMargin
    }
    rounds.mkString(",\n")
  }

  val oracles: Map[String, String] = Map(
    // eigenvector replay: the shared exact-pair CTE, 5 unrolled rounds
    // of neighbor sum + one truncated max-normalization each
    "x196_eigen_centrality" ->
      s"""WITH $pairsOracleCtes,
         |e2 AS (SELECT d1 AS a, d2 AS b FROM pairs),
         |edges AS (SELECT a AS src, b AS dst FROM e2
         |  UNION ALL SELECT b, a FROM e2),
         |deg AS (SELECT src AS id, count(*) AS degree
         |  FROM edges GROUP BY 1),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS e FROM deg),
         |${eigenRoundsSql(5)}
         |SELECT d.id, d.degree, r5.e AS eigen_micro
         |FROM deg d JOIN r5 ON r5.id = d.id
         |ORDER BY d.id""".stripMargin,
    // Chapman replay: the shared digit fixture, BOTH windowed passes
    // (forward lower(key), reversed lower(reverse(key)) — mirrored in
    // that exact order, charwise lowering does not commute with
    // reversal in general), the smoothed estimator in HUGEINT
    "x191_chapman" ->
      """WITH base AS (
        |  SELECT doc_id, substring(text, 1, 40) AS head
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id < 6
        |    AND text IS NOT NULL AND length(text) >= 40),
        |var AS (
        |  SELECT doc_id * 1000 + k AS id,
        |    concat('d', lpad(CAST(doc_id AS VARCHAR), 3, '0'),
        |      substring(head, 1, 4), lpad(CAST(k AS VARCHAR), 4, '0'),
        |      substring(head, 13, 12)) AS key
        |  FROM base, generate_series(0, 279) AS g(k)),
        |f AS (SELECT id, lower(key) AS s FROM var),
        |rv AS (SELECT id, lower(reverse(key)) AS s FROM var),
        |rk1 AS (SELECT id, s,
        |    concat(substring(s, 1, 8), '|', CAST(length(s) AS VARCHAR))
        |      AS blk FROM f),
        |rk1r AS (SELECT id, s, blk, row_number() OVER (
        |    PARTITION BY blk ORDER BY s, id) AS rn FROM rk1),
        |rk2 AS (SELECT id, s,
        |    concat(substring(s, 1, 8), '|', CAST(length(s) AS VARCHAR))
        |      AS blk FROM rv),
        |rk2r AS (SELECT id, s, blk, row_number() OVER (
        |    PARTITION BY blk ORDER BY s, id) AS rn FROM rk2),
        |c1 AS (SELECT DISTINCT least(a.id, b.id) AS id1,
        |    greatest(a.id, b.id) AS id2
        |  FROM rk1r a JOIN rk1r b ON a.blk = b.blk AND b.rn > a.rn
        |    AND b.rn <= a.rn + 32
        |  WHERE damerau_levenshtein(a.s, b.s) <= 2),
        |c2 AS (SELECT DISTINCT least(a.id, b.id) AS id1,
        |    greatest(a.id, b.id) AS id2
        |  FROM rk2r a JOIN rk2r b ON a.blk = b.blk AND b.rn > a.rn
        |    AND b.rn <= a.rn + 32
        |  WHERE damerau_levenshtein(a.s, b.s) <= 2),
        |nn1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM c1),
        |nn2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM c2),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m
        |  FROM c1 JOIN c2 USING (id1, id2))
        |SELECT n1, n2, m,
        |  CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (m + 1) - 1
        |    AS BIGINT) AS chapman_est,
        |  CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * (n1 - m)
        |    * (n2 - m)) // (CAST(m + 1 AS HUGEINT) * (m + 1) * (m + 2))
        |    AS BIGINT) AS var_est
        |FROM nn1, nn2, mm""".stripMargin,
    // two-pass recall replay: x191's forward + reversed-key windowed
    // CTEs verbatim, the candidate UNION priced against the same
    // uncapped all-pairs ground truth
    "x150c_twopass_recall" ->
      """WITH base AS (
        |  SELECT doc_id, substring(text, 1, 40) AS head
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id < 6
        |    AND text IS NOT NULL AND length(text) >= 40),
        |var AS (
        |  SELECT doc_id * 1000 + k AS id,
        |    concat('d', lpad(CAST(doc_id AS VARCHAR), 3, '0'),
        |      substring(head, 1, 4), lpad(CAST(k AS VARCHAR), 4, '0'),
        |      substring(head, 13, 12)) AS key
        |  FROM base, generate_series(0, 279) AS g(k)),
        |f AS (SELECT id, lower(key) AS s FROM var),
        |rv AS (SELECT id, lower(reverse(key)) AS s FROM var),
        |rk1 AS (SELECT id, s,
        |    concat(substring(s, 1, 8), '|', CAST(length(s) AS VARCHAR))
        |      AS blk FROM f),
        |rk1r AS (SELECT id, s, blk, row_number() OVER (
        |    PARTITION BY blk ORDER BY s, id) AS rn FROM rk1),
        |rk2 AS (SELECT id, s,
        |    concat(substring(s, 1, 8), '|', CAST(length(s) AS VARCHAR))
        |      AS blk FROM rv),
        |rk2r AS (SELECT id, s, blk, row_number() OVER (
        |    PARTITION BY blk ORDER BY s, id) AS rn FROM rk2),
        |c1 AS (SELECT DISTINCT least(a.id, b.id) AS id1,
        |    greatest(a.id, b.id) AS id2
        |  FROM rk1r a JOIN rk1r b ON a.blk = b.blk AND b.rn > a.rn
        |    AND b.rn <= a.rn + 32
        |  WHERE damerau_levenshtein(a.s, b.s) <= 2),
        |c2 AS (SELECT DISTINCT least(a.id, b.id) AS id1,
        |    greatest(a.id, b.id) AS id2
        |  FROM rk2r a JOIN rk2r b ON a.blk = b.blk AND b.rn > a.rn
        |    AND b.rn <= a.rn + 32
        |  WHERE damerau_levenshtein(a.s, b.s) <= 2),
        |nn1 AS (SELECT CAST(count(*) AS BIGINT) AS n_fwd FROM c1),
        |nn2 AS (SELECT CAST(count(*) AS BIGINT) AS n_rev FROM c2),
        |uu AS (SELECT CAST(count(*) AS BIGINT) AS n_twopass
        |  FROM (SELECT id1, id2 FROM c1
        |        UNION SELECT id1, id2 FROM c2) AS u),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
        |  FROM rk1r a JOIN rk1r b ON a.blk = b.blk AND a.id < b.id
        |  WHERE damerau_levenshtein(a.s, b.s) <= 2)
        |SELECT n_fwd, n_rev, n_twopass, n_exact,
        |  CASE WHEN n_exact = 0 THEN NULL
        |    ELSE (n_twopass * 1000000) // n_exact END AS recall_micro
        |FROM nn1, nn2, uu, ex""".stripMargin,
    // windowed-recall replay: the same 6×280 digit-spliced fixture,
    // the all-pairs and rank-window (w = 32, order s,id) candidate
    // regimes side by side, counts + block occupancy in one row
    "x150b_window_recall" ->
      """WITH base AS (
        |  SELECT doc_id, substring(text, 1, 40) AS head
        |  FROM documents WHERE doc_id IS NOT NULL AND doc_id < 6
        |    AND text IS NOT NULL AND length(text) >= 40),
        |var AS (
        |  SELECT doc_id * 1000 + k AS id,
        |    lower(concat('d', lpad(CAST(doc_id AS VARCHAR), 3, '0'),
        |      substring(head, 1, 4), lpad(CAST(k AS VARCHAR), 4, '0'),
        |      substring(head, 13, 12))) AS s
        |  FROM base, generate_series(0, 279) AS g(k)),
        |r AS (
        |  SELECT id, s,
        |    concat(substring(s, 1, 8), '|',
        |      CAST(length(s) AS VARCHAR)) AS blk
        |  FROM var),
        |rk AS (SELECT id, s, blk,
        |    row_number() OVER (PARTITION BY blk ORDER BY s, id) AS rn
        |  FROM r),
        |bs AS (SELECT blk, CAST(count(*) AS BIGINT) AS bn
        |  FROM r GROUP BY 1),
        |bstat AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |    max(bn) AS max_block,
        |    CAST(sum(CASE WHEN bn > 256 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_oversized
        |  FROM bs),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
        |  FROM rk a JOIN rk b ON a.blk = b.blk AND a.id < b.id
        |  WHERE damerau_levenshtein(a.s, b.s) <= 2),
        |wn AS (SELECT CAST(count(*) AS BIGINT) AS n_windowed
        |  FROM rk a JOIN rk b ON a.blk = b.blk AND b.rn > a.rn
        |    AND b.rn <= a.rn + 32
        |  WHERE damerau_levenshtein(a.s, b.s) <= 2)
        |SELECT n_blocks, max_block, n_oversized, n_exact, n_windowed,
        |  CASE WHEN n_exact = 0 THEN NULL
        |    ELSE (n_windowed * 1000000) // n_exact END AS recall_micro
        |FROM bstat, ex, wn""".stripMargin,
    // canonical-URL replay: the identical id-arithmetic URL injection,
    // then the same 4-step normalization chain in the same order ('g'
    // flag — DuckDB replaces first-only by default where Spark
    // replaces all; no replacement backrefs, the $1-vs-\1 dialect trap)
    "x164_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTP://' || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END
        |    || 'Site' || CAST(doc_id % 37 AS VARCHAR) || '.ExAmple.com'
        |    || CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END
        |    || '/Page/' || CAST(doc_id % 11 AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0
        |         THEN '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR)
        |         WHEN doc_id % 7 = 0 THEN '?utm_campaign=x' ELSE '' END
        |    || CASE WHEN doc_id % 6 = 0 THEN '#section' ELSE '' END AS url
        |  FROM documents WHERE doc_id IS NOT NULL),
        |s1 AS (SELECT doc_id, url,
        |    regexp_replace(url, '#.*$', '', 'g') AS a FROM u),
        |s2 AS (SELECT doc_id, url,
        |    regexp_replace(regexp_replace(regexp_replace(a,
        |      '&utm_[a-z]+=[^&#]*', '', 'g'),
        |      '\?utm_[a-z]+=[^&#]*&', '?', 'g'),
        |      '\?utm_[a-z]+=[^&#]*$', '', 'g') AS a FROM s1),
        |c AS (SELECT doc_id, url,
        |    rtrim(regexp_replace(lower(regexp_extract(a,
        |        '^([^/]*//[^/]*)', 1)), ':80$', '', 'g')
        |      || regexp_extract(a, '^[^/]*//[^/]*(.*)$', 1), '/') AS canon
        |  FROM s2)
        |SELECT canon AS canon_url, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
        |  min(doc_id) AS rep_doc_id
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // JW near-dup replay: the x150 twin perturbation and blocking,
    // DuckDB's OWN jaro_winkler_similarity as the reference for the
    // native expression — value-exact after one shared ·10⁶ rounding
    "x174_jw_neardup" ->
      """WITH docs AS (
        |  SELECT doc_id, substring(text, 1, 40) AS head
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND length(text) >= 40),
        |twins AS (
        |  SELECT doc_id + 10000000 AS doc_id,
        |    concat(substring(head, 1, 8), substring(head, 10, 1),
        |      substring(head, 9, 1), substring(head, 11, 30)) AS head
        |  FROM docs WHERE doc_id % 3 = 0),
        |r AS (
        |  SELECT doc_id AS id, lower(head) AS s,
        |    concat(substring(lower(head), 1, 8), '|',
        |      CAST(length(lower(head)) AS VARCHAR)) AS blk
        |  FROM (SELECT * FROM docs UNION ALL SELECT * FROM twins)),
        |p AS (
        |  SELECT a.id AS id1, b.id AS id2,
        |    CAST(round(jaro_winkler_similarity(a.s, b.s) * 1000000.0, 0)
        |      AS BIGINT) AS jw_micros
        |  FROM r a JOIN r b ON a.blk = b.blk AND a.id < b.id),
        |ob AS (SELECT coalesce(CAST(sum(CASE WHEN bn > 256 THEN 1
        |      ELSE 0 END) AS BIGINT), 0) AS n_oversized_blocks
        |  FROM (SELECT blk, count(*) AS bn FROM r GROUP BY 1))
        |SELECT id1, id2, jw_micros, n_oversized_blocks FROM p, ob
        |WHERE jw_micros >= 900000 ORDER BY id1, id2""".stripMargin,
    // degree histogram + HUGEINT Pearson assortativity over the shared
    // replayed pair relation (the x131 sign + floor(r²·1e6) convention)
    "x152_dup_graph_stats" ->
      s"""WITH $pairsOracleCtes,
         |deg AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT d1 AS id FROM pairs UNION ALL SELECT d2 FROM pairs)
         |  GROUP BY 1),
         |hist AS (SELECT deg AS degree, CAST(count(*) AS BIGINT) AS n_nodes
         |         FROM deg GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes_total,
         |        CAST(max(deg) AS BIGINT) AS max_degree FROM deg),
         |ends AS (
         |  SELECT CAST(da.deg AS HUGEINT) AS x, CAST(db.deg AS HUGEINT) AS z
         |  FROM pairs JOIN deg da ON da.id = d1 JOIN deg db ON db.id = d2
         |  UNION ALL
         |  SELECT CAST(db.deg AS HUGEINT), CAST(da.deg AS HUGEINT)
         |  FROM pairs JOIN deg da ON da.id = d1 JOIN deg db ON db.id = d2),
         |a AS (
         |  SELECT count(*) AS m, sum(x) AS sx, sum(z) AS sz,
         |    sum(x * z) AS sxz, sum(x * x) AS sxx, sum(z * z) AS szz
         |  FROM ends),
         |f AS (
         |  SELECT m, m * sxz - sx * sz AS num, m * sxx - sx * sx AS den1,
         |    m * szz - sz * sz AS den2
         |  FROM a),
         |summ AS (
         |  SELECT CAST(m // 2 AS BIGINT) AS n_edges,
         |    CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
         |      AS assort_sign,
         |    CASE WHEN m < 6 OR den1 = 0 OR den2 = 0 THEN NULL
         |         ELSE CAST(floor(1000000.0 * CAST(num AS DOUBLE)
         |           * CAST(num AS DOUBLE) / (CAST(den1 AS DOUBLE)
         |           * CAST(den2 AS DOUBLE))) AS BIGINT)
         |    END AS assort_sq_micros
         |  FROM f)
         |SELECT degree, n_nodes, n_nodes_total, max_degree, n_edges,
         |  assort_sign, assort_sq_micros
         |FROM hist, tot, summ ORDER BY degree""".stripMargin,
    // typo near-dup replay: the same twin perturbation and
    // (8-char-prefix, length) blocking, with DuckDB's OWN
    // damerau_levenshtein as the reference for the native
    // Lowrance–Wagner expression — an exact cross-engine check of the
    // algorithm, candidate pair by candidate pair
    "x150_typo_neardup" ->
      """WITH docs AS (
        |  SELECT doc_id, substring(text, 1, 40) AS head
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND length(text) >= 40),
        |twins AS (
        |  SELECT doc_id + 10000000 AS doc_id,
        |    concat(substring(head, 1, 8), substring(head, 10, 1),
        |      substring(head, 9, 1), substring(head, 11, 30)) AS head
        |  FROM docs WHERE doc_id % 3 = 0),
        |r AS (
        |  SELECT doc_id AS id, lower(head) AS s,
        |    concat(substring(lower(head), 1, 8), '|',
        |      CAST(length(lower(head)) AS VARCHAR)) AS blk
        |  FROM (SELECT * FROM docs UNION ALL SELECT * FROM twins)),
        |p AS (
        |  SELECT a.id AS id1, b.id AS id2,
        |    CAST(damerau_levenshtein(a.s, b.s) AS BIGINT) AS dl,
        |    CAST(levenshtein(a.s, b.s) AS BIGINT) AS lev
        |  FROM r a JOIN r b ON a.blk = b.blk AND a.id < b.id),
        |ob AS (SELECT coalesce(CAST(sum(CASE WHEN bn > 256 THEN 1
        |      ELSE 0 END) AS BIGINT), 0) AS n_oversized_blocks
        |  FROM (SELECT blk, count(*) AS bn FROM r GROUP BY 1))
        |SELECT id1, id2, dl, lev, lev - dl AS transposition_gain,
        |  n_oversized_blocks
        |FROM p, ob WHERE dl <= 2 ORDER BY id1, id2""".stripMargin,
    // the SHARED banding fragment restricted to mixed-parity pairs and
    // oriented (delta → base), then the same exact-Jaccard verification
    // and per-newcomer admission verdict
    "x117_incremental_admission" ->
      s"""WITH $shaMinhashCandCtes,
         |candx AS (
         |  SELECT CASE WHEN d1 % 10 = 0 THEN d1 ELSE d2 END AS new_id,
         |         CASE WHEN d1 % 10 = 0 THEN d2 ELSE d1 END AS base_id
         |  FROM cand
         |  WHERE (d1 % 10 = 0) <> (d2 % 10 = 0)),
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
         |ix AS (
         |  SELECT c.new_id, c.base_id, count(*) AS inter
         |  FROM candx c
         |  JOIN sh a ON a.doc_id = c.new_id
         |  JOIN sh b ON b.doc_id = c.base_id AND b.sh = a.sh
         |  GROUP BY 1, 2),
         |ver AS (
         |  SELECT new_id, base_id FROM ix
         |  JOIN n n1 ON new_id = n1.doc_id
         |  JOIN n n2 ON base_id = n2.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter) >= 0.5),
         |m AS (
         |  SELECT new_id AS doc_id, count(*) AS n_dups, min(base_id) AS dup_of
         |  FROM ver GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(m.n_dups, 0) AS BIGINT) AS n_dups, m.dup_of,
         |  coalesce(m.n_dups, 0) = 0 AS admitted
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |WHERE d.doc_id % 10 = 0
         |ORDER BY d.doc_id""".stripMargin,
    // both engines hash with sha256 over the identical 64-char prefix;
    // HAVING mirrors the two-bound boilerplate condition
    "x114_prefix_boilerplate" ->
      """SELECT sha256(substring(text, 1, 64)) AS prefix_hash,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct,
        |  min(doc_id) AS min_doc
        |FROM documents
        |WHERE text IS NOT NULL AND length(text) >= 64
        |GROUP BY 1
        |HAVING count(*) >= 2 AND count(DISTINCT sha256(text)) >= 2
        |ORDER BY 1""".stripMargin,
    // resemblance replay: the shared toks/sh fragment, per-source
    // DISTINCT shingle sets, one co-occurrence self-join (the oracle
    // may be quadratic where the engine aggregates — result-equal)
    "x104_source_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM toks),
        |ss AS (
        |  SELECT DISTINCT d.source, s.sh
        |  FROM sh s JOIN documents d USING (doc_id)
        |  WHERE d.source IS NOT NULL),
        |n AS (SELECT source, count(*) AS ns FROM ss GROUP BY 1),
        |i AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        |  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_inter,
        |  na.ns + nb.ns - n_inter AS n_union,
        |  round(CAST(n_inter AS DOUBLE) / (na.ns + nb.ns - n_inter), 6)
        |    AS jaccard
        |FROM i JOIN n na ON src_a = na.source JOIN n nb ON src_b = nb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // leakage replay: the shared x26 pair CTE, both orientations, the
    // x31 sha-bucket split assignment, eval-side aggregation
    "x98_split_leakage" ->
      s"""WITH $pairsOracleCtes,
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |      (${graft.ops.SamplingOps.hash16Sql("doc_id")} % 100) AS bk
         |    FROM documents WHERE doc_id IS NOT NULL)),
         |bi AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs)
         |SELECT src AS doc_id, a.split, count(*) AS n_train_dups,
         |  min(dst) AS min_train_dup
         |FROM bi
         |JOIN sp a ON a.doc_id = src JOIN sp b ON b.doc_id = dst
         |WHERE a.split <> 'train' AND b.split = 'train'
         |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // fuzzy-resolve replay: DISTINCT-name dictionary with support
    // counts, last-token blocks, the same levenshtein DP, orientation
    // by (support DESC, name ASC)
    "x93_fuzzy_resolve" ->
      """WITH dict AS (
        |  SELECT p_name AS name, count(*) AS support
        |  FROM part WHERE p_name IS NOT NULL GROUP BY 1),
        |b AS (SELECT name, support, split_part(name, ' ', -1) AS blk
        |  FROM dict),
        |p AS (
        |  SELECT a.name AS an, a.support AS asup, b.name AS bn,
        |    b.support AS bsup, levenshtein(a.name, b.name) AS dist,
        |    (a.support > b.support OR
        |     (a.support = b.support AND a.name < b.name)) AS awins
        |  FROM b a JOIN b b ON a.blk = b.blk AND a.name < b.name)
        |SELECT CASE WHEN awins THEN bn ELSE an END AS variant,
        |  CASE WHEN awins THEN an ELSE bn END AS canonical, dist,
        |  CASE WHEN awins THEN bsup ELSE asup END AS n_variant,
        |  CASE WHEN awins THEN asup ELSE bsup END AS n_canonical
        |FROM p WHERE dist <= 2
        |ORDER BY variant, canonical""".stripMargin,
    // prefix-join replay: the prefix filter affects COST, never
    // results, so the oracle is the brute-force co-occurrence scan
    // with the same integer rational threshold (17·inter ≥ 7·(m1+m2)
    // ⟺ J ≥ 7/10) and the same 6-decimal round
    "x92_jaccard_prefix" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM toks),
        |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, inter AS n_inter,
        |  n1.ns + n2.ns - inter AS n_union,
        |  round(CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter), 6) AS jaccard
        |FROM inter JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |WHERE 17 * inter >= 7 * (n1.ns + n2.ns)
        |ORDER BY d1, d2""".stripMargin,
    // containment replay: the x26 shingle/count/co-occurrence prefix,
    // then BOTH orientations of each unordered pair with its own
    // denominator, thresholded on the same 6-decimal round
    "x78_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM toks),
        |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs2 AS (
        |  SELECT d1 AS contained_id, d2 AS container_id, inter AS n_shared,
        |    round(CAST(inter AS DOUBLE) / n1.ns, 6) AS containment
        |  FROM inter JOIN n n1 ON d1 = n1.doc_id
        |  UNION ALL
        |  SELECT d2, d1, inter,
        |    round(CAST(inter AS DOUBLE) / n2.ns, 6)
        |  FROM inter JOIN n n2 ON d2 = n2.doc_id)
        |SELECT * FROM pairs2 WHERE containment >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,
    // pagerank replay over the SAME replayed pair relation the cluster
    // oracles consume: undirected edges, per-source degree, 5 unrolled
    // integer rounds
    "x72_dup_pagerank" ->
      s"""WITH $pairsOracleCtes,
         |e AS (SELECT d1 AS a, d2 AS b FROM pairs),
         |edges AS (SELECT a AS src, b AS dst FROM e
         |  UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY 1),
         |adj AS (SELECT e.src, e.dst, d.degree
         |  FROM edges e JOIN deg d ON d.id = e.src),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
         |${pagerankRoundsSql(5)}
         |SELECT d.id, d.degree, r5.r AS rank_micro
         |FROM deg d JOIN r5 ON r5.id = d.id
         |ORDER BY d.id""".stripMargin,
    // full winnowing replay: per-window argmin as a relational
    // row_number (ORDER BY h, p DESC = the engine's rightmost-min fold
    // by definition), then the shared-fingerprint pair join
    "x67_winnow_pairs" ->
      s"""WITH $kgramPosCtes,
         |m AS (SELECT doc_id, max(p) AS m FROM kh GROUP BY 1),
         |wins AS (
         |  SELECT doc_id, unnest(range(1, greatest(m - 3, 1) + 1)) AS j
         |  FROM m),
         |wk AS (
         |  SELECT w.doc_id, w.j, k.p, k.h FROM wins w
         |  JOIN kh k ON k.doc_id = w.doc_id AND k.p >= w.j AND k.p <= w.j + 3),
         |sel AS (
         |  SELECT DISTINCT doc_id, h FROM (
         |    SELECT doc_id, j, h,
         |      row_number() OVER (PARTITION BY doc_id, j ORDER BY h, p DESC) AS rn
         |    FROM wk) WHERE rn = 1)
         |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
         |FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY d1, d2""".stripMargin,
    // SNM replay: same normalization ('g' flag — DuckDB replaces first
    // match by default where Spark replaces all), per-block row_number,
    // rank-window join, unordered pair fold, distinct-pass count
    "x137_sorted_neighborhood" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS nrm
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |k1 AS (SELECT id, substring(nrm, 1, 24) AS k, 'prefix' AS pass
        |       FROM base),
        |k2 AS (SELECT id, substring(reverse(nrm), 1, 24) AS k,
        |       'suffix' AS pass FROM base),
        |ks AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2),
        |r AS (
        |  SELECT id, k, pass, substring(k, 1, 2) AS block,
        |    row_number() OVER (PARTITION BY pass, substring(k, 1, 2)
        |      ORDER BY k, id) AS rank
        |  FROM ks),
        |j AS (
        |  SELECT a.pass, least(a.id, b.id) AS d1,
        |    greatest(a.id, b.id) AS d2
        |  FROM r a JOIN r b ON a.pass = b.pass AND a.block = b.block
        |    AND b.rank >= a.rank + 1 AND b.rank <= a.rank + 3)
        |SELECT d1, d2, CAST(count(DISTINCT pass) AS BIGINT) AS n_passes
        |FROM j GROUP BY 1, 2 ORDER BY d1, d2""".stripMargin,
    // SNM recall replay: the shared exact-pair CTE + the x137 two-pass
    // window-3 candidate relation, counted the x107 way
    "x137b_snm_recall_audit" ->
      s"""WITH $pairsOracleCtes,
         |snmb AS (
         |  SELECT doc_id AS id,
         |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS nrm
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |ks AS (
         |  SELECT id, substring(nrm, 1, 24) AS k, 'prefix' AS pass FROM snmb
         |  UNION ALL
         |  SELECT id, substring(reverse(nrm), 1, 24) AS k, 'suffix' AS pass
         |  FROM snmb),
         |r AS (
         |  SELECT id, k, pass, substring(k, 1, 2) AS block,
         |    row_number() OVER (PARTITION BY pass, substring(k, 1, 2)
         |      ORDER BY k, id) AS rank
         |  FROM ks),
         |cand AS (
         |  SELECT DISTINCT least(a.id, b.id) AS d1,
         |    greatest(a.id, b.id) AS d2
         |  FROM r a JOIN r b ON a.pass = b.pass AND a.block = b.block
         |    AND b.rank >= a.rank + 1 AND b.rank <= a.rank + 3),
         |c AS (SELECT
         |  (SELECT count(*) FROM pairs) AS n_exact,
         |  (SELECT count(*) FROM cand) AS n_cand,
         |  (SELECT count(*) FROM pairs JOIN cand USING (d1, d2)) AS n_caught)
         |SELECT n_exact, n_cand, n_caught,
         |  CASE WHEN n_exact = 0 THEN NULL
         |    ELSE (n_caught * 1000000) // n_exact END AS recall_micro,
         |  CASE WHEN n_cand = 0 THEN NULL
         |    ELSE (n_caught * 1000000) // n_cand END AS precision_micro
         |FROM c""".stripMargin,
    // dup-mass replay: the x26 distinct-shingle derivation by STRING
    // (hash-grain in the engine — identical short of a 64-bit collision),
    // occurrence counts joined back, per-source instance fractions
    "x135_dup_mass" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM toks),
        |df AS (SELECT sh, count(*) AS n_docs FROM sh GROUP BY 1),
        |inst AS (
        |  SELECT d.source AS grp, f.n_docs
        |  FROM sh s JOIN df f USING (sh)
        |  JOIN documents d ON d.doc_id = s.doc_id
        |  WHERE d.source IS NOT NULL),
        |g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_instances,
        |    CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup
        |  FROM inst GROUP BY 1),
        |gg AS (
        |  SELECT grp, n_instances, n_dup,
        |    CAST((1000000 * n_dup) // n_instances AS BIGINT) AS dup_micros
        |  FROM g),
        |c AS (SELECT CAST((1000000 * sum(n_dup)) // sum(n_instances)
        |      AS BIGINT) AS corpus_dup_micros FROM gg)
        |SELECT grp, n_instances, n_dup, dup_micros, corpus_dup_micros
        |FROM gg, c ORDER BY grp""".stripMargin,
    // excision replay: the x68 span chain, spans coverage-merged per
    // doc, kept = indices no span covers, text re-joined on spaces
    "x133_span_excision" ->
      s"""WITH $kgramPosCtes,
         |probe AS (SELECT DISTINCT doc_id AS probe_id, h FROM kh WHERE doc_id < 50),
         |hits AS (
         |  SELECT k.doc_id, p.probe_id, k.p
         |  FROM kh k JOIN probe p ON k.h = p.h WHERE k.doc_id >= 50),
         |runs AS (
         |  SELECT doc_id, probe_id, p,
         |    p - row_number() OVER (PARTITION BY doc_id, probe_id ORDER BY p) AS grp
         |  FROM hits),
         |spans AS (
         |  SELECT doc_id, min(p) AS s, max(p) + 2 AS e
         |  FROM runs GROUP BY doc_id, probe_id, grp),
         |sp AS (
         |  SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
         |  FROM spans GROUP BY 1),
         |base AS (
         |  SELECT t.doc_id, t.tk, coalesce(sp.spans, []) AS spans
         |  FROM toks t LEFT JOIN sp ON sp.doc_id = t.doc_id
         |  WHERE t.doc_id >= 50 AND t.doc_id IS NOT NULL
         |    AND t.tk IS NOT NULL),
         |kp AS (
         |  SELECT doc_id, tk,
         |    list_filter(range(1, len(tk) + 1), i ->
         |      len(list_filter(spans, x -> i >= x.s AND i <= x.e)) = 0)
         |    AS kept
         |  FROM base)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(tk) - len(kept) AS BIGINT) AS n_removed,
         |  -- DuckDB's array_to_string of an empty list is NULL; Spark's
         |  -- array_join is '' — a fully-excised doc is '' in both
         |  coalesce(array_to_string(list_transform(kept, i -> tk[i]), ' '),
         |    '') AS clean_text
         |FROM kp ORDER BY doc_id""".stripMargin,
    // span replay: probe hash set, positional match join, islands via
    // p - row_number, maximal-run aggregation
    "x68_contam_spans" ->
      s"""WITH $kgramPosCtes,
         |probe AS (SELECT DISTINCT doc_id AS probe_id, h FROM kh WHERE doc_id < 50),
         |hits AS (
         |  SELECT k.doc_id, p.probe_id, k.p
         |  FROM kh k JOIN probe p ON k.h = p.h WHERE k.doc_id >= 50),
         |runs AS (
         |  SELECT doc_id, probe_id, p,
         |    p - row_number() OVER (PARTITION BY doc_id, probe_id ORDER BY p) AS grp
         |  FROM hits)
         |SELECT doc_id, probe_id, min(p) AS start_pos, max(p) AS end_pos,
         |  count(*) AS n_shingles, max(p) - min(p) + 3 AS span_tokens
         |FROM runs GROUP BY doc_id, probe_id, grp
         |ORDER BY doc_id, probe_id, start_pos""".stripMargin,
    // triangle replay over the SAME replayed pair relation the cluster
    // oracles consume: wedge join + closing-edge EXISTS, per-node count
    "x71_dup_triangles" ->
      s"""WITH $pairsOracleCtes,
         |e AS (SELECT d1 AS a, d2 AS b FROM pairs),
         |deg AS (
         |  SELECT id, count(*) AS degree FROM (
         |    SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a
         |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
         |tc AS (
         |  SELECT id, count(*) AS n_triangles FROM (
         |    SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
         |    UNION ALL SELECT z AS id FROM tri) GROUP BY 1)
         |SELECT d.id, d.degree, coalesce(tc.n_triangles, 0) AS n_triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN round(CAST(coalesce(tc.n_triangles, 0) AS DOUBLE) * 2
         |      / (d.degree * (d.degree - 1)), 6)
         |    ELSE 0.0 END AS clustering
         |FROM deg d LEFT JOIN tc ON tc.id = d.id
         |ORDER BY d.id""".stripMargin,
    "x25_exact_dedup" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS canonical_id,
        | count(*) AS n_copies
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1 ORDER BY content_hash""".stripMargin,
    // the oracle admits on text equality where Spark anti-joins on
    // sha256(text) — identical results short of a hash collision
    "x25b_dedup_increment" ->
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id < 250),
        |increment AS (
        |  SELECT * FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text, lang, source, n_chars
        |  FROM corpus WHERE doc_id % 5 = 0)
        |SELECT doc_id, n_chars FROM increment i
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus c WHERE c.text = i.text)
        |ORDER BY doc_id""".stripMargin,
    "x26_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM toks),
        |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, inter,
        | round(CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter), 6) AS jaccard
        |FROM inter JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |WHERE CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter) >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    // Connected components as a recursive reachability closure: min
    // reachable id per node == the propagation fixpoint.
    "x26e_dedup_clusters" ->
      s"""$ccOracleCte
         |SELECT id AS doc_id, cluster_id FROM lab ORDER BY doc_id""".stripMargin,
    // the x31 bucket rule applied to the CLUSTER id (the shared cluster
    // closure; singletons fall back to their own doc id)
    "x26i_cluster_split" ->
      s"""$ccOracleCte,
         |cl AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
         |SELECT doc_id, cluster_id,
         |  CAST((${SamplingOps.hash16Sql("cluster_id")} % 100) AS INTEGER) AS bucket,
         |  CASE WHEN ${SamplingOps.hash16Sql("cluster_id")} % 100 < 80 THEN 'train'
         |       WHEN ${SamplingOps.hash16Sql("cluster_id")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin,
    // the matrix rides on the SAME replayed pair relation as x26/x26e
    // (shared pairsOracleCtes fragment); sources attach by id and the
    // unordered key folds (A,B)/(B,A) together exactly like Spark's
    // least/greatest
    "x50_dup_matrix" ->
      s"""WITH $pairsOracleCtes
         |SELECT least(a.source, b.source) AS src_a,
         |  greatest(a.source, b.source) AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs
         |JOIN documents a ON a.doc_id = d1
         |JOIN documents b ON b.doc_id = d2
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    "x26g_survivors" ->
      s"""$ccOracleCte,
         |wl AS (
         |  SELECT d.doc_id, CAST(d.n_chars AS DOUBLE) AS score,
         |    coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
         |r AS (
         |  SELECT cluster_id, doc_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY score DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_docs
         |  FROM wl)
         |SELECT cluster_id, doc_id AS survivor_id, n_docs
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "x33_contamination" -> x33OracleSql,
    // x33b's Bloom prefilter is result-invariant (false positives die in
    // the exact join), so the Bloom path is held to the SAME oracle
    "x33b_contamination_bloom" -> x33OracleSql,
    // the DENSE smoothed-KL sum (vocabulary × sources outright) against
    // the engine's sparse closed-form decomposition — hash equality is
    // the machine-checked proof the decomposition algebra is right.
    // Surprisal quantized to integer micro-nats (the x28j recipe) so
    // the per-pair numerator is an exact integer in both engines
    "x63_source_kl" ->
      """WITH tok AS (
        |  SELECT source AS src,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
        |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
        |c AS (SELECT src, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |ns AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS V FROM c),
        |vocab AS (SELECT DISTINCT tok FROM c),
        |dense AS (
        |  SELECT s.src, vb.tok, coalesce(c.cnt, 0) AS cnt, s.n
        |  FROM ns s CROSS JOIN vocab vb
        |  LEFT JOIN c ON c.src = s.src AND c.tok = vb.tok),
        |l AS (
        |  SELECT src, tok, cnt, n,
        |    CAST(round(ln(CAST(n + V AS DOUBLE) / (cnt + 1)) * 1000000) AS BIGINT) AS L
        |  FROM dense CROSS JOIN v),
        |pair AS (
        |  SELECT a.src AS src_a, b.src AS src_b, a.n AS n_a,
        |    sum(CAST(a.cnt + 1 AS HUGEINT) * (b.L - a.L)) AS num
        |  FROM l a JOIN l b ON a.tok = b.tok AND a.src <> b.src
        |  GROUP BY 1, 2, 3)
        |SELECT src_a, src_b,
        |  round(CAST(num AS DOUBLE) / (CAST(n_a + V AS DOUBLE) * 1000000), 6) AS kl_nats
        |FROM pair CROSS JOIN v
        |ORDER BY src_a, src_b""".stripMargin,
    // the full cascade replayed over the >= 50 corpus: sha canonicals,
    // the recursive-CTE cluster closure + best-score survivor (the
    // x26e/x26g fragments parameterized by the id cut), the x33
    // containment scan, the quality floor, and the FIRST-rule CASE.
    // dedupSurvivors' NULL-score handling is mirrored (-inf coalesce)
    "x62_curation_report" ->
      """WITH RECURSIVE cex AS (
        |  SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY sha256(text)) AS canon
        |  FROM documents WHERE doc_id >= 50 AND text IS NOT NULL),
        |ccanon AS (
        |  SELECT d.doc_id FROM documents d
        |  LEFT JOIN cex e ON e.doc_id = d.doc_id
        |  WHERE d.doc_id >= 50 AND (e.canon IS NULL OR e.canon = d.doc_id)),
        |ctoks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents
        |  WHERE doc_id >= 50 AND doc_id IN (SELECT doc_id FROM ccanon)),
        |csh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM ctoks),
        |cns AS (SELECT doc_id, count(*) AS ns FROM csh GROUP BY 1),
        |cpr AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        |  FROM csh a JOIN csh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cpairs AS (
        |  SELECT d1, d2 FROM cpr
        |  JOIN cns n1 ON d1 = n1.doc_id JOIN cns n2 ON d2 = n2.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter) >= 0.5),
        |cedges AS (
        |  SELECT d1 AS src, d2 AS dst FROM cpairs
        |  UNION ALL SELECT d2, d1 FROM cpairs),
        |creach(id, m) AS (
        |  SELECT src, src FROM cedges
        |  UNION
        |  SELECT e.src, r.m FROM cedges e JOIN creach r ON r.id = e.dst),
        |clab AS (SELECT id, min(m) AS cluster_id FROM creach GROUP BY id),
        |cwl AS (
        |  SELECT d.doc_id,
        |    coalesce(CAST(d.n_chars AS DOUBLE), CAST('-infinity' AS DOUBLE)) AS score,
        |    coalesce(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN clab l ON d.doc_id = l.id
        |  WHERE d.doc_id >= 50
        |    AND d.doc_id IN (SELECT doc_id FROM ccanon)),
        |csurv AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC, doc_id) AS rn
        |    FROM cwl) WHERE rn = 1),
        |ptoks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents WHERE doc_id < 50),
        |psh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM ptoks),
        |ppn AS (SELECT doc_id AS probe_id, count(*) AS ns FROM psh GROUP BY 1),
        |cint AS (
        |  SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id, count(*) AS inter
        |  FROM psh p JOIN csh c USING (sh) GROUP BY 1, 2),
        |contam AS (
        |  SELECT DISTINCT corpus_id AS doc_id FROM cint
        |  JOIN ppn USING (probe_id)
        |  WHERE CAST(inter AS DOUBLE) / ns >= 0.5),
        |verdict AS (
        |  SELECT d.doc_id,
        |    CASE WHEN e.canon IS NOT NULL AND e.canon <> d.doc_id THEN 'exact_dup'
        |         WHEN s.doc_id IS NULL THEN 'near_dup'
        |         WHEN c.doc_id IS NOT NULL THEN 'contamination'
        |         WHEN d.text IS NULL OR d.n_chars IS NULL OR d.n_chars < 100
        |           THEN 'quality'
        |    END AS removed_by
        |  FROM documents d
        |  LEFT JOIN cex e ON e.doc_id = d.doc_id
        |  LEFT JOIN csurv s ON s.doc_id = d.doc_id
        |  LEFT JOIN contam c ON c.doc_id = d.doc_id
        |  WHERE d.doc_id >= 50)
        |SELECT doc_id, removed_by IS NULL AS kept, removed_by
        |FROM verdict ORDER BY doc_id""".stripMargin,
    // novelty: reference reduced to its distinct shingle set, scored
    // side left-joined on the shingle; string shingles stand in for the
    // Spark side's xxhash64 keys like every shingle oracle here
    "x60_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM toks),
        |ref AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 250),
        |scored AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 250),
        |cnt AS (
        |  SELECT s.doc_id, count(*) AS n_shingles,
        |    sum(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END) AS n_novel
        |  FROM scored s LEFT JOIN ref r USING (sh) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
        |  CASE WHEN n_shingles > 0
        |       THEN round(CAST(n_novel AS DOUBLE) / n_shingles, 6) END AS novelty
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
        |LEFT JOIN cnt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // corpus diff: the fixture perturbation replayed, then the same
    // full-outer presence/hash classification (IS NOT DISTINCT FROM is
    // DuckDB's spelling of Spark's null-safe <=>)
    "x59_corpus_diff" ->
      """WITH oldd AS (
        |  SELECT doc_id, sha256(text) AS h, TRUE AS p FROM documents),
        |newd AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h,
        |    TRUE AS p
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, sha256(text), TRUE
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.p IS NULL THEN 'added'
        |       WHEN n.p IS NULL THEN 'removed'
        |       WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  o.h AS old_hash, n.h AS new_hash
        |FROM oldd o FULL JOIN newd n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // the x33 scan over the decontamination normalization: lowercase,
    // ASCII punctuation stripped to spaces (the spelled-out Java∩RE2
    // class normalizeForDecontam uses), whitespace collapsed — then the
    // identical shingle-containment arithmetic. DuckDB needs the 'g'
    // flag (first-match-only default); RE2 reads \t/\n inside the
    // pattern itself, so standard single-quoted literals suffice
    "x33d_contamination_norm" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[!-/:-@\[-`{-~]', ' ', 'g'), '[ \t\n\r\f]+', ' ', 'g')) AS ntext
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(string_split(ntext, ' '), t -> t <> '') AS tk
        |  FROM nrm),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(tk) - 1, 1)),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
        |  FROM toks),
        |ps AS (SELECT doc_id AS probe_id, sh FROM sh WHERE doc_id < 50),
        |cs AS (SELECT doc_id AS corpus_id, sh FROM sh WHERE doc_id >= 50),
        |pn AS (SELECT probe_id, count(*) AS ns FROM ps GROUP BY 1),
        |inter AS (
        |  SELECT probe_id, corpus_id, count(*) AS inter
        |  FROM ps JOIN cs USING (sh) GROUP BY 1, 2)
        |SELECT probe_id, corpus_id, inter,
        | round(CAST(inter AS DOUBLE) / ns, 6) AS containment
        |FROM inter JOIN pn USING (probe_id)
        |WHERE CAST(inter AS DOUBLE) / ns >= 0.5
        |ORDER BY probe_id, corpus_id""".stripMargin,
    // the x33 containment arithmetic with probe/corpus sides taken from
    // the x31 bucket rule (test = bucket >= 90, train = bucket < 80)
    "x33c_split_decontam" -> {
      val bucket = s"(${SamplingOps.hash16Sql("doc_id")} % 100)"
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
         |  FROM toks),
         |bk AS (SELECT doc_id, $bucket AS bucket FROM documents),
         |ps AS (SELECT s.doc_id AS probe_id, s.sh
         |  FROM sh s JOIN bk ON bk.doc_id = s.doc_id WHERE bk.bucket >= 90),
         |cs AS (SELECT s.doc_id AS corpus_id, s.sh
         |  FROM sh s JOIN bk ON bk.doc_id = s.doc_id WHERE bk.bucket < 80),
         |pn AS (SELECT probe_id, count(*) AS ns FROM ps GROUP BY 1),
         |inter AS (
         |  SELECT probe_id, corpus_id, count(*) AS inter
         |  FROM ps JOIN cs USING (sh) GROUP BY 1, 2)
         |SELECT probe_id, corpus_id, inter,
         | round(CAST(inter AS DOUBLE) / ns, 6) AS containment
         |FROM inter JOIN pn USING (probe_id)
         |WHERE CAST(inter AS DOUBLE) / ns >= 0.4
         |ORDER BY probe_id, corpus_id""".stripMargin
    },
    // Span dedup replayed exactly: same 3-token cut (last span short),
    // first-occurrence-by-(id, position) keeper via a window, ordered
    // reassembly via string_agg(... ORDER BY span_idx)
    "x35_span_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, tk,
        |    unnest(range(CAST(floor((len(tk) - 1) / 3.0) AS BIGINT) + 1)) AS span_idx
        |  FROM tk WHERE len(tk) > 0),
        |spans AS (
        |  SELECT doc_id, span_idx,
        |    array_to_string(tk[span_idx * 3 + 1 : span_idx * 3 + 3], ' ') AS span
        |  FROM idx),
        |marked AS (
        |  SELECT doc_id, span_idx, span,
        |    row_number() OVER (PARTITION BY span
        |      ORDER BY doc_id, span_idx) = 1 AS kept
        |  FROM spans),
        |agg AS (
        |  SELECT doc_id,
        |    count(*) AS n_spans,
        |    count(*) FILTER (WHERE kept) AS n_kept,
        |    string_agg(span, ' ' ORDER BY span_idx) FILTER (WHERE kept) AS clean_text
        |  FROM marked GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce(clean_text, '') AS clean_text,
        | CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
        | CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Full MinHash+LSH replayed in SQL on the portable base hash:
    // signatures → 4×4 banding → candidate equi-join → exact-Jaccard
    // verification — the algorithm is oracle-checked, not just its result
    "x26b_minhash_lsh" ->
      s"""WITH $shaMinhashCandCtes,
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT d1, d2, count(*) AS inter
         |  FROM cand JOIN sh sa ON sa.doc_id = d1
         |            JOIN sh sb ON sb.doc_id = d2 AND sa.sh = sb.sh
         |  GROUP BY 1, 2)
         |SELECT d1, d2,
         | round(CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter), 6) AS jaccard
         |FROM inter JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         |WHERE CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter) >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    // LSH audit replay: the SAME banding chain's pre-verify candidates
    // measured against the exact pair relation; NULL on empty denominators
    "x107_lsh_recall_audit" ->
      s"""WITH $shaMinhashCandCtes,
         |n AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY 1),
         |co AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT d1, d2 FROM co
         |  JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (n1.ns + n2.ns - inter) >= 0.5),
         |c AS (SELECT
         |  (SELECT count(*) FROM pairs) AS n_exact,
         |  (SELECT count(*) FROM cand) AS n_cand,
         |  (SELECT count(*) FROM pairs JOIN cand USING (d1, d2)) AS n_caught)
         |SELECT n_exact, n_cand, n_caught,
         |  CASE WHEN n_exact = 0 THEN NULL
         |    ELSE (n_caught * 1000000) // n_exact END AS recall_micro,
         |  CASE WHEN n_cand = 0 THEN NULL
         |    ELSE (n_caught * 1000000) // n_cand END AS precision_micro
         |FROM c""".stripMargin,
    // concentration replay: cluster sizes off the shared closure, top-20
    // by (size, id), exact micro shares over the tiny top-k relation
    "x106_dup_concentration" ->
      s"""$ccOracleCte,
         |sizes AS (SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM sizes),
         |top AS (SELECT cluster_id, n_docs FROM sizes
         |  ORDER BY n_docs DESC, cluster_id LIMIT 20),
         |r AS (SELECT cluster_id, n_docs,
         |    CAST(row_number() OVER (ORDER BY n_docs DESC, cluster_id)
         |      AS INTEGER) AS rank,
         |    CAST(sum(n_docs) OVER (ORDER BY n_docs DESC, cluster_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs
         |  FROM top)
         |SELECT rank, cluster_id, n_docs,
         |  (n_docs * 1000000) // n_total AS share_micro,
         |  (cum_docs * 1000000) // n_total AS cum_share_micro
         |FROM r, tot ORDER BY rank""".stripMargin,
    // Inverted-index tf-idf cosine, replayed exactly: milli-quantized idf
    // makes every sum integer; sqrt/division are correctly-rounded IEEE
    "x26h_tfidf_neardup" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT doc_id, tok,
        |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1000) AS BIGINT) AS w
        |  FROM tf JOIN dfr USING (tok) CROSS JOIN n
        |  WHERE df <= least(n_docs * 0.5, 1000)),
        |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2
        |          FROM w GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(sum(a.w * b.w) AS BIGINT) AS dotq
        |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        | round(CAST(dotq AS DOUBLE) /
        |   (sqrt(CAST(n1.norm2 AS DOUBLE)) * sqrt(CAST(n2.norm2 AS DOUBLE))), 6) AS cos_sim
        |FROM dots JOIN norms n1 ON d1 = n1.doc_id JOIN norms n2 ON d2 = n2.doc_id
        |WHERE CAST(dotq AS DOUBLE) /
        |   (sqrt(CAST(n1.norm2 AS DOUBLE)) * sqrt(CAST(n2.norm2 AS DOUBLE))) >= 0.8
        |ORDER BY d1, d2""".stripMargin,
    // SimHash fingerprints bit-for-bit: portable token hash, per-bit
    // signed tf sums, sign → bit
    "x26c_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,
    // Hamming pairs over the SAME replayed signature relation: 4-byte
    // banding (exact by pigeonhole at distance <= 3), popcount verify
    "x86_simhash_pairs" ->
      s"""WITH $simhashCtes,
         |b AS (
         |  SELECT doc_id, i AS band, (simhash >> ((i - 1) * 8)) & 255 AS v
         |  FROM sig CROSS JOIN range(1, 5) AS r(i)),
         |cand AS (
         |  SELECT a.doc_id AS d1, b2.doc_id AS d2
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.v = b2.v
         |    AND a.doc_id < b2.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2,
         |  CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INTEGER) AS hamming
         |FROM cand JOIN sig s1 ON d1 = s1.doc_id JOIN sig s2 ON d2 = s2.doc_id
         |WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 3
         |ORDER BY d1, d2""".stripMargin)

  // the simhash signature relation as a reusable CTE chain (`sig`:
  // doc_id, simhash) — shared by the x26c fingerprint oracle and the
  // x86 Hamming-pair oracle, mirroring the Spark-side shared cache
  private lazy val simhashCtes: String = {
    val sumCols = (0 until 32).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN tf ELSE -tf END) AS s_$b")
      .mkString(",\n    ")
    val bitTerms = (0 until 32).map(b =>
      s"(CASE WHEN s_$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" +\n ")
    s"""tf AS (
       |  SELECT doc_id, tok, count(*) AS tf
       |  FROM (SELECT doc_id,
       |          unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2),
       |hh AS (SELECT doc_id, tf, ${hex32Sql("tok")} AS h FROM tf),
       |s AS (SELECT doc_id,
       |    $sumCols
       |  FROM hh GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id,
       |   $bitTerms AS simhash
       |  FROM s)""".stripMargin
  }
}
