package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Vector/similarity-search operators (SURVEY.md §2B X27, X30) over the
  * `embeddings` table (64-dim float vectors).
  *
  * Scale design: brute-force cosine is the correctness baseline — a
  * broadcast nested-loop over a small query set, linear in the corpus and
  * embarrassingly parallel, but O(|Q|·n) total. The sign-random-projection
  * LSH variant is the 100 TB path: bucket keys shrink the candidate set to
  * same-bucket collisions (union over L tables), turning the scan into an
  * equi-join. All float math is promoted to double with explicit left-fold
  * order so results are deterministic and oracle-comparable. */
object VectorOps {

  /** See [[graft.Tables.fanOut]] — the quadratic baselines stream one side
    * of a nested-loop join, which otherwise inherits a small scan's single
    * partition. */
  private[graft] def fanOut(df: DataFrame): DataFrame = graft.Tables.fanOut(df)

  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def normD(a: Column): Column = sqrt(dotD(a, a))

  /** Native codegen'd cosine (graft.functions.CosineSimilarity) — bit-equal
    * to round(dotD/(normD·normD)) by identical fold order (VectorExprSpec),
    * but a single fused primitive loop inside WholeStageCodegen. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /** X27 — brute-force cosine top-k (k=5) for query vectors vec_id < 20.
    * Ranked on the 6-decimal-rounded similarity (ties broken by id) so the
    * ordering survives engine-specific float summation differences.
    * Fixture binding of [[graft.api.TrainingData.cosineTopK]]. */
  def x27TopK(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    graft.api.TrainingData
      .cosineTopK(e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** X73 — hard-negative mining: for the same query set as x27, the
    * top-5 corpus rows MOST similar while staying strictly BELOW the
    * x26d near-dup threshold (0.4) — the contrastive-training negatives
    * that sit just outside the positive band. Fixture binding of
    * [[graft.api.TrainingData.hardNegatives]]. */
  def x73HardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    graft.api.TrainingData
      .hardNegatives(e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 5, posThreshold = 0.4)
      .orderBy(col("q_id"), col("rank"))
  }

  /** X97 — reciprocal-rank fusion of two retrieval rankings for the x27
    * query set (vec_id < 20): exact-cosine top-50 and squared-L2 top-50
    * fuse by Σ 10⁶ div (60 + rank), fused top-5 kept. Cosine ignores
    * vector magnitude, L2 does not — on unnormalized embeddings the two
    * rankings genuinely disagree, so this is a real multi-system
    * combine, not a self-fusion. Fixture binding of
    * [[graft.api.TrainingData.reciprocalRankFusion]]. */
  def x97RrfFusion(s: SparkSession, d: String): DataFrame = {
    // r17: both rankings from ONE corpus fan-out — the generic
    // cosineTopK + l2TopK + reciprocalRankFusion composition paid the
    // |C|·|Q| similarity crossJoin twice and shuffled three times
    // (one rank window each + the fused aggregation); computing both
    // measures on one pass and ranking with two same-partitioned
    // windows keeps ONE exchange, and since each (q, c) appears exactly
    // once the fused sum needs no aggregation at all. Rank semantics
    // are the originals' verbatim: desc_nulls_last reproduces the
    // "NULL sims never occupy ranks" filter (non-null rows keep
    // identical rank numbers), contributions are the same exact
    // integer micros, candidates are the same union of top-50 pools.
    import graft.functions.VectorFunctions.{cosine_sim, dot_product}
    val e = t(s, d, "embeddings")
    val qq = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val wCos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("sim").desc_nulls_last, col("c_id"))
    val wL2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("dist2").asc_nulls_last, col("c_id"))
    val wFused = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("c_id"))
    fanOut(c).crossJoin(broadcast(qq))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(cosine_sim(col("q_emb"), col("c_emb")), 6))
      .withColumn("dist2", round(
        dot_product(col("q_emb"), col("q_emb"))
          - lit(2d) * dot_product(col("q_emb"), col("c_emb"))
          + dot_product(col("c_emb"), col("c_emb")), 6))
      .select(col("q_id"), col("c_id"), col("sim"), col("dist2"))
      .withColumn("rank_cos", row_number().over(wCos))
      .withColumn("rank_l2", row_number().over(wL2))
      .select(col("q_id"), col("c_id"),
        (when(col("sim").isNotNull && col("rank_cos") <= 50,
          expr("1000000L div (60L + rank_cos)")).otherwise(0L) +
          when(col("dist2").isNotNull && col("rank_l2") <= 50,
            expr("1000000L div (60L + rank_l2)")).otherwise(0L))
          .as("rrf_micro"))
      .filter(col("rrf_micro") > 0)
      .withColumn("rank", row_number().over(wFused).cast("int"))
      .filter(col("rank") <= 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** X82 — MMR diverse top-8 for probe vector 1 (λ = 70%, pool 50):
    * greedy maximal-marginal-relevance selection — relevant AND mutually
    * diverse, where x27's plain top-k returns near-copies of the best
    * hit. Fixture binding of
    * [[graft.api.TrainingData.mmrDiverseTopK]]. */
  def x82MmrDiverse(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    graft.api.TrainingData
      .mmrDiverseTopK(e.filter(col("vec_id") =!= 1),
        e.filter(col("vec_id") === 1), "vec_id", "embedding",
        k = 8, lambdaPct = 70, poolSize = 50)
      .orderBy(col("rank"))
  }

  /** X118 — greedy k-center coreset (Gonzalez) over the 64 lowest-id
    * embeddings, k = 8: pure-coverage prototype selection with the
    * covering-radius sequence. Fixture binding of
    * [[graft.api.TrainingData.kCenterCoreset]]. */
  def x118KCenterCoreset(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.kCenterCoreset(
      t(s, d, "embeddings"), "vec_id", "embedding", k = 8, poolSize = 64)
      .orderBy(col("rank"))

  /** X27 (scale path) — ANN via LSH: 8 tables of 4-bit SRP buckets;
    * candidates = same bucket in any table; exact cosine re-rank within
    * candidates. Recall vs [[x27TopK]] is asserted in LlmOpsSpec. */
  def x27bAnnLsh(s: SparkSession, d: String): DataFrame = {
    // tuned for this corpus's low neighbor similarity (~0.33 cosine →
    // p_bit ≈ 0.61): 8 tables × 4 bits ⇒ expected recall ≈ 0.7 at ~40%
    // candidate fraction; higher-sim corpora warrant more bits per table
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    annLshCore(e, e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      k = 5, tables = 8, bits = 4)
      .orderBy(col("q_id"), col("rank"))
  }

  /** SRP-LSH ANN core over any corpus `(vec_id, embedding)` and query set
    * `(q_id, q_emb)` — shared by the fixture query above and the
    * parametric API (graft.api.TrainingData.annTopKLsh). Candidates =
    * same 4-bit bucket in any of the L tables; exact cosine re-rank. */
  private[graft] def annLshCore(corpus: DataFrame, queries: DataFrame,
      k: Int, tables: Int, bits: Int): DataFrame = {
    // native one-pass bucketer (bit-equal to the composed built-in form,
    // asserted in SrpExprSpec)
    def bucketed(df: DataFrame, idCol: String, embCol: String) =
      df.select(col(idCol),
          posexplode(graft.functions.SrpFunctions.srp_buckets(col(embCol), tables, bits)))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "bkt")
    val c = bucketed(corpus, "vec_id", "embedding")
    val q = bucketed(queries, "q_id", "q_emb")
    // dedup (multi-table collisions) on the 16-byte id pair, NOT on rows
    // carrying two 64-float arrays — at scale the distinct's shuffle is
    // the candidate set, so keep it ids-only and re-attach embeddings after
    val candIds = c.as("c").join(q.as("qq"),
        col("c.tbl") === col("qq.tbl") && col("c.bkt") === col("qq.bkt") &&
          col("c.vec_id") =!= col("qq.q_id"))
      .select(col("qq.q_id"), col("c.vec_id").as("c_id"))
      .distinct()
    val cand = candIds
      // no broadcast hint: AQE broadcasts a small query set and falls back
      // to a shuffle join for large |Q| — both paths return identical
      // results (asserted with broadcasts disabled in TrainingDataSpec)
      .join(queries, "q_id")
      .join(corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")), "c_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    cand
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .filter(col("sim").isNotNull) // zero vectors rank nowhere (see cosineTopK)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** X27 (scale path #2) — ANN via IVF: a k-means coarse quantizer (k=16,
    * 2 Lloyd iterations) built with deterministic seeds (first k vectors)
    * and integer-space centroid updates ([[CentroidAgg]] — so the index is
    * identical across runs/partitionings); queries probe the nprobe=4
    * nearest clusters and re-rank exactly. The iteration loop is
    * driver-coordinated but only the k×dims centroid table ever leaves the
    * cluster — the classic IVF build shape. Recall vs [[x27TopK]] asserted
    * in LlmOpsSpec. */
  def x27cAnnIvf(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    ivfProbe(
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      persistIvfCentroids(s, d), persistIvfIndexed(s, d), k = 5, nProbe = 4)
      .orderBy(col("q_id"), col("rank"))
  }

  // The IVF index is deterministic (seeded by lowest-id vectors, integer-
  // space centroid updates), so the fixture caches it per (app, dir):
  // every CONSTRUCTION of x27c otherwise re-runs the driver-coordinated
  // Lloyd collects eagerly — even schema-only consumers paid the build.
  // Centroids are a k×dims literal relation (nothing to persist); the
  // assigned corpus is persisted because probe joins reference it lazily.
  private def persistIvfCentroids(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("VectorOps.ivfCentroids", s, d)(
      ivfCentroids(s,
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        nClusters = 16))
  private def persistIvfIndexed(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("VectorOps.ivfIndexed", s, d)(
      ivfAssign(t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        persistIvfCentroids(s, d)).persist())

  /** X40 — semantic dedup, SemDeDup-style (cluster, then dedup WITHIN
    * clusters): over the shared deterministic IVF index, a vector is
    * REMOVED when some LOWER-id vector in its cluster has cosine ≥ 0.35
    * (keep-lowest-id greedy — the deterministic instance of the paper's
    * keep-one-per-group rule). Output: each removed vector with its
    * cluster and the max similarity that condemned it.
    *
    * Scale shape: this is exactly why the clustering exists — the
    * quadratic pair scan is confined WITHIN clusters (an equi-join on
    * cid), and nClusters grows with the corpus so per-cluster work stays
    * bounded; there is no global all-pairs anywhere. Fixture binding of
    * [[graft.api.TrainingData.semanticDedupRemoved]] over the cached
    * per-app index ([[persistIvfIndexed]]). */
  def x40SemDedup(s: SparkSession, d: String): DataFrame =
    semanticDedupRemovedCore(persistIvfIndexed(s, d), 0.35)
      .orderBy(col("vec_id"))

  /** X40 — per-cluster profile of the IVF index (the "data map" read of
    * the same clustering): size, mean cosine-to-centroid in exact integer
    * MICRO-units (sims quantized to micro-units, integer sum, integer
    * division — no float ever crosses the comparator, so no round-at-
    * midpoint hazard; a round-6 double mean hit exactly .5·10⁻⁶ on this
    * fixture and the engines' round() split), and the lowest member id. */
  def x40bClusterProfile(s: SparkSession, d: String): DataFrame =
    persistIvfIndexed(s, d)
      .join(broadcast(persistIvfCentroids(s, d)), "cid")
      .withColumn("sim", round(cosine(col("embedding"), col("cemb")), 6))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("sim") * 1e6).cast("long")).as("qsum"),
        min(col("vec_id")).as("min_vec_id"))
      .select(col("cid"), col("n_vecs"),
        expr("qsum div n_vecs").as("avg_sim_micro"),
        col("min_vec_id"))
      .orderBy(col("cid"))

  /** X53 — prototype-distance pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws", arXiv 2206.14486): rank every vector within
    * its cluster by cosine to the cluster prototype (the centroid) and
    * keep the k FARTHEST — far-from-prototype examples are the hard,
    * less-redundant ones, and pruning easy prototypical examples first
    * is the data-pruning recipe that beats random keep at scale →
    * (vec_id, cid, sim_micro, rank, kept), rank 1 = farthest.
    *
    * Rides the SHARED cached IVF index (the same build x40/x40b/x27g
    * read — no extra Lloyd run); the cosine is quantized to integer
    * micro-units (the x40b portability recipe) BEFORE ranking, so the
    * rank itself is integer-deterministic in both engines. Zero vectors
    * have no direction, hence no prototype distance: excluded, exactly
    * like cosineTopK. Scale shape: one broadcast join + a window
    * partitioned by cid — per-partition state is one cluster, whose size
    * the index build bounds (grow nClusters with the corpus). */
  def x53PrototypePrune(s: SparkSession, d: String): DataFrame =
    prototypePruneCore(persistIvfIndexed(s, d),
      persistIvfCentroids(s, d), 10)
      .orderBy(col("vec_id"))

  /** The prune kernel over a built `(vec_id, embedding, cid)` index and
    * its centroid table — shared by the fixture query above and the
    * parametric API (graft.api.TrainingData.prototypePrune). */
  private[graft] def prototypePruneCore(indexed: DataFrame,
      centroids: DataFrame, keepPerCluster: Int): DataFrame =
    indexed
      .join(broadcast(centroids), "cid")
      // TWO-step quantization (round to 6 dp, then scale) — the x40b
      // spelling: rounding the raw cosine×1e6 product directly flipped
      // the micro-unit on ~4 % of fixture rows (last-ulp cosine
      // differences land on the .5 boundary after the multiply)
      .withColumn("sim_micro",
        round(round(cosine(col("embedding"), col("cemb")), 6) * 1e6)
          .cast("long"))
      .filter(col("sim_micro").isNotNull)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("cid"))
          .orderBy(col("sim_micro"), col("vec_id"))))
      .select(col("vec_id"), col("cid"), col("sim_micro"),
        col("rank"), (col("rank") <= keepPerCluster).as("kept"))

  /** X27g — corpus-wide kNN GRAPH over the shared IVF index: every
    * vector's top-3 nearest neighbors among its own cluster's members
    * (exact round-6 cosine, ties → lower neighbor id). This is the
    * all-points variant of the query-set ANN ops — the structure
    * SemDeDup-style curation, diversity sampling, and graph-based
    * near-dup clustering consume — and the reason it scales is the same
    * reason x40 does: candidate generation is an equi-join on cid, so
    * the quadratic is confined within clusters and never goes global.
    * Cluster-boundary neighbors are missed by design (the standard IVF
    * recall trade; the probed-query ops x27c/x27f quantify it).
    *
    * Scale note: the window's partition key is vec_id — per-partition
    * state is the vector's own candidate list (cluster-bounded), not the
    * corpus; at 100 TB the same shape holds with nClusters grown
    * proportionally. */
  def x27gKnnGraph(s: SparkSession, d: String): DataFrame =
    knnGraphCore(persistIvfIndexed(s, d), k = 3)
      .orderBy(col("vec_id"), col("rank"))

  /** The kNN-graph kernel over an assigned `(vec_id, embedding, cid)`
    * index — shared by the fixture query above and the parametric API
    * (graft.api.TrainingData.knnGraph). */
  private[graft] def knnGraphCore(indexed: DataFrame, k: Int): DataFrame = {
    val a = indexed.select(col("cid"), col("vec_id"), col("embedding"))
    val b = indexed.select(col("cid"), col("vec_id").as("n_id"),
      col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("n_id"))
    a.join(b, Seq("cid"))
      .filter(col("vec_id") =!= col("n_id"))
      .withColumn("sim", round(cosine(col("embedding"), col("n_emb")), 6))
      .filter(col("sim").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("n_id"), col("cid"), col("sim"), col("rank"))
  }

  /** X45 — incremental index maintenance: a NEW batch of vectors
    * (vec_id ≡ 0 mod 5 — an SF-independent 20 % arrival) assigned to
    * the FROZEN centroids trained on the existing corpus (the other
    * 80 %), without re-running Lloyd. This is how a production ANN/
    * semantic-dedup index absorbs a new crawl: assignment is one
    * broadcast-centroids scan of only the arriving batch (row-local
    * argmax, no shuffle of the existing corpus), and re-clustering is
    * deferred to an offline rebuild cadence. Output: each new vector's
    * cluster plus the cluster's old and arriving populations — all
    * INTEGER columns by design: a round-6 cosine-to-centroid here sat
    * within float-vs-double noise of the rounding boundary on ~10 % of
    * rows (the x40b lesson), while the argmax itself only flips on a
    * near-tie between two different centroids, which real clusters
    * don't produce. */
  def x45IvfAppend(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    ivfAppendCore(s, e.filter(col("vec_id") % 5 =!= 0),
      e.filter(col("vec_id") % 5 === 0), nClusters = 16)
      .orderBy(col("vec_id"))
  }

  /** The frozen-centroid append kernel — shared by the fixture query
    * above and the parametric API (graft.api.TrainingData.ivfAppend). */
  private[graft] def ivfAppendCore(s: SparkSession, oldCorpus: DataFrame,
      newBatch: DataFrame, nClusters: Int): DataFrame = {
    val cents = ivfCentroids(s, oldCorpus, nClusters)
    val asgNew = newBatch.toDF("vec_id", "embedding")
      .crossJoin(broadcast(cents))
      .withColumn("csim", cosine(col("embedding"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"))
    val nOld = ivfAssign(oldCorpus, cents)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_old"))
    val nNew = asgNew.groupBy(col("cid")).agg(count(lit(1)).as("n_new"))
    asgNew
      .join(broadcast(nOld), Seq("cid"), "left_outer")
      .join(broadcast(nNew), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_old"), lit(0L)).as("n_old"), col("n_new"))
  }

  /** Within-cluster qualifying pairs over an assigned `(vec_id,
    * embedding, cid)` index → (cid, v1, v2, sim), v1 < v2, sim ≥
    * threshold (round-6 cosine). The pair scan shuffles on cid only. */
  private[graft] def withinClusterPairs(indexed: DataFrame,
      threshold: Double): DataFrame = {
    val a = indexed.select(col("cid"), col("vec_id").as("v1"),
      col("embedding").as("e1"))
    val b = indexed.select(col("cid"), col("vec_id").as("v2"),
      col("embedding").as("e2"))
    a.join(b, Seq("cid"))
      .filter(col("v1") < col("v2"))
      .withColumn("sim", round(cosine(col("e1"), col("e2")), 6))
      .filter(col("sim") >= threshold)
      .select(col("cid"), col("v1"), col("v2"), col("sim"))
  }

  /** The removed set of the keep-lowest-id greedy: every vector that has
    * at least one qualifying lower-id neighbor in its own cluster →
    * (vec_id, cid, max_sim). Shared by the fixture above and the
    * parametric API. */
  private[graft] def semanticDedupRemovedCore(indexed: DataFrame,
      threshold: Double): DataFrame =
    withinClusterPairs(indexed, threshold)
      .groupBy(col("v2"), col("cid"))
      .agg(max(col("sim")).as("max_sim"))
      .select(col("v2").as("vec_id"), col("cid"), col("max_sim"))

  /** IVF ANN core over any corpus `(vec_id, embedding)` and query set
    * `(q_id, q_emb)` — shared by the fixture query above and the
    * parametric API (graft.api.TrainingData.annTopKIvf). Seeds are the
    * `nClusters` lowest-id vectors (deterministic). */
  private[graft] def annIvfCore(s: SparkSession, corpus: DataFrame,
      queries: DataFrame, k: Int, nClusters: Int, nProbe: Int): DataFrame = {
    val centroids = ivfCentroids(s, corpus, nClusters)
    ivfProbe(queries, centroids, ivfAssign(corpus, centroids), k, nProbe)
  }

  /** Cluster assignment of a `(vec_id, embedding)` corpus against a
    * centroid table → (vec_id, embedding, cid). Argmax via max(struct)
    * aggregation: partial→final combine instead of a per-vector window
    * sort (deterministic — struct order is (sim, cid)). */
  private[graft] def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.toDF("vec_id", "embedding").crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("embedding"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("csim"), col("cid"))).as("best"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("best.cid").as("cid"))

  /** The Lloyd build: deterministic k-means centroids of a
    * `(vec_id, embedding)` corpus as a LITERAL (cid, cemb) relation —
    * only k×dims scalars ever reach the driver. */
  private[graft] def ivfCentroids(s: SparkSession, corpus: DataFrame,
      nClusters: Int): DataFrame = {
    import s.implicits._
    val K = nClusters
    // persisted for the driver-coordinated Lloyd collects (one scan
    // instead of one per iteration), RELEASED once the centroids are
    // final — the lazy downstream index pays one rescan rather than
    // leaking a cached relation per call of this public API
    val e = corpus.toDF("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // centroid table is collected each iteration (k×dims scalars — the only
    // data that ever reaches the driver) so the lineage stays linear: the
    // next iteration starts from a literal table, not a 3-deep plan
    def toLiteral(rows: Array[(Int, Seq[Float])]): DataFrame =
      rows.toSeq.toDF("cid", "cemb")
    // seeds: the K lowest-id vectors (deterministic for any orderable id
    // type — only embeddings are collected), re-labelled 0..K-1
    // driver-side so cluster ids never overflow int
    val seeds = e.orderBy(col("vec_id")).limit(K)
      .select(col("embedding")).as[Seq[Float]].collect()
    require(seeds.nonEmpty, "IVF index needs a non-empty corpus")
    val dims = seeds.head.length
    val centroidAgg = new CentroidAggregator(dims)
    var centroids = toLiteral(seeds.zipWithIndex.map { case (emb, i) => (i, emb) })
    // 2 Lloyd iterations: the 3rd bought no recall on this corpus (floor
    // asserted in LlmOpsSpec) and each iteration is a full corpus pass plus
    // a driver collect barrier — the cheapest fix for the barrier cost
    (1 to 2).foreach { _ =>
      centroids = toLiteral(ivfAssign(e, centroids)
        .select(col("cid").cast("int"), col("embedding"))
        .as[(Int, Seq[Float])]
        .groupByKey(_._1)
        .agg(centroidAgg.toColumn.name("c"))
        .map { case (cid, c) => (cid, c.map(_.toFloat)) }
        .collect())
    }
    e.unpersist() // Lloyd collects done; downstream recomputes lazily
    centroids
  }

  /** The probe+re-rank step over a built index: queries probe their
    * `nProbe` nearest centroids, candidates re-rank by exact cosine. */
  private[graft] def ivfProbe(queries: DataFrame, centroids: DataFrame,
      indexed: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("cid"))
    val probes = queries.toDF("q_id", "q_emb")
      .crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("q_emb"), col("cemb")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cid"))

    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    probes.join(indexed, "cid")
      .filter(col("vec_id") =!= col("q_id"))
      // nprobe clusters are disjoint → (q_id, c_id) pairs are already
      // unique; no distinct (and no array-carrying shuffle) needed
      .select(col("q_id"), col("q_emb"), col("vec_id").as("c_id"), col("embedding"))
      .withColumn("sim", round(cosine(col("q_emb"), col("embedding")), 6))
      .filter(col("sim").isNotNull) // zero vectors rank nowhere (see cosineTopK)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** X26 — embedding-cosine near-dup pairs (the vector-space twin of the
    * n-gram Jaccard dedup): all pairs at cosine ≥ 0.4. Exact quadratic
    * baseline — the SRP-LSH bucketing in [[x27bAnnLsh]] is the 100 TB
    * shape for the same predicate. */
  // the normed nonzero embedding relation (vec_id, embedding, nrm):
  // x26d references it on both all-pairs sides and x26f on three branches
  // (bucketing + both verify attaches) — one persisted copy per app/dir
  // serves them all
  private def persistNormedEmb(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("VectorOps.normedEmbeddings", s, d) {
      import graft.functions.VectorFunctions.dot_product
      // norms precomputed per vector: the all-pairs scan pays one dot per
      // pair instead of dot+2 norms (bit-equal: identical fold order);
      // zero-norm guard: 0/0 would be NaN, which Spark's ordering treats
      // as greater than any double and the >= filter would pass
      // (cosine_sim returns NULL there; the oracles carry the same guard)
      t(s, d, "embeddings").select(col("vec_id"), col("embedding"),
          sqrt(dot_product(col("embedding"), col("embedding"))).as("nrm"))
        .filter(col("nrm") > 0)
        .persist()
    }

  def x26dEmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val e = persistNormedEmb(s, d)
    // stream side widened so the all-pairs scan parallelizes (build side
    // stays as-scanned: equal stats → Spark builds right, streams left)
    fanOut(e).as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", round(
        dot_product(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("sim") >= 0.4)
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"), col("sim"))
      .orderBy(col("v1"), col("v2"))
  }

  /** X26 (scale path) — embedding near-dup via SRP-LSH bucketing: the
    * 100 TB form of [[x26dEmbeddingNearDup]]. Candidates share a
    * sign-random-projection bucket in any of the L tables (an equi-join on
    * the bucket key, not all-pairs); candidates verify with exact cosine ≥
    * the threshold, so every emitted pair is a TRUE near-dup pair with the
    * same sim the exact scan would report. Recall < 1 for pairs near the
    * threshold (the SRP collision curve: p_table = (1 − θ/π)^bits);
    * subset + recall-floor asserted against x26d in LlmOpsSpec.
    *
    * Bucket bits are ADAPTIVE — `srpBitsFor(count(embeddings))`, the
    * smallest b ≥ 4 with 64·2^b ≥ n — because fixed bits are a measured
    * scale-killer: bucket occupancy grows ∝ n, candidate pairs ∝
    * n²/2^bits, 173× wall time at a 10× scale-up under pinned 4 bits
    * (SCALING_r10). Sizing bits to the corpus keeps expected occupancy
    * (and so the candidate relation) linear in n. The count is the raw
    * table count — one parquet-metadata scan — and the DuckDB oracle
    * replays the SAME integer derivation from its own count(*), with
    * sign literals generated to the 24-plane maximum and the
    * count-derived prefix selecting how many participate. */
  def x26fEmbeddingNearDupLsh(s: SparkSession, d: String): DataFrame = {
    val bits = graft.api.TrainingData.srpBitsFor(t(s, d, "embeddings").count())
    embNearDupLshFromNormed(persistNormedEmb(s, d),
      threshold = 0.4, tables = 8, bits = bits)
      .orderBy(col("v1"), col("v2"))
  }

  /** SRP-LSH near-dup pair core over any `(vec_id, embedding)` corpus —
    * shared by the fixture query above and the parametric API
    * (graft.api.TrainingData.embeddingNearDupPairs). Same bucketing as the
    * ANN path ([[annLshCore]]); candidate pairs travel as 16-byte id
    * pairs, embeddings re-attach only for the exact verify. */
  private[graft] def embNearDupLshCore(corpus: DataFrame, threshold: Double,
      tables: Int, bits: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    embNearDupLshFromNormed(
      corpus.toDF("vec_id", "embedding")
        .withColumn("nrm", sqrt(dot_product(col("embedding"), col("embedding"))))
        .filter(col("nrm") > 0), // zero vectors have no direction, like x26d
      threshold, tables, bits)
  }

  /** [[embNearDupLshCore]] over a pre-normed (ideally persisted)
    * `(vec_id, embedding, nrm)` relation — it is referenced on three
    * plan branches (bucketing + both verify attaches). */
  private def embNearDupLshFromNormed(normed: DataFrame, threshold: Double,
      tables: Int, bits: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val e = normed
    val bucketRows = e.select(col("vec_id").as("doc_id"),
        posexplode(graft.functions.SrpFunctions.srp_buckets(col("embedding"), tables, bits)))
      .select(col("doc_id"), xxhash64(col("pos"), col("col")).as("bandkey"))
    // distinct ordered candidate pairs from any shared bucket (coocPairs
    // dedups multi-table collisions via its groupBy)
    val cand = DedupOps.coocPairs(bucketRows, "bandkey")
      .select(col("d1"), col("d2"))
    cand
      .join(e.select(col("vec_id").as("d1"), col("embedding").as("e1"),
        col("nrm").as("n1")), "d1")
      .join(e.select(col("vec_id").as("d2"), col("embedding").as("e2"),
        col("nrm").as("n2")), "d2")
      .withColumn("sim", round(
        dot_product(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("sim") >= threshold)
      .select(col("d1").as("v1"), col("d2").as("v2"), col("sim"))
  }

  /** X27 (quantized path) — brute-force cosine top-k over the int8-PACKED
    * corpus: the search side of the quantization story. The whole scan
    * reads 1 byte/dim (4× less memory bandwidth than float32) and runs in
    * integer arithmetic; cosine needs no scales — they cancel. Recall vs
    * the float scan is bounded only by quantization error (asserted ≥0.8
    * in LlmOpsSpec; the quantized rank order can differ near ties). */
  def x27dAnnPacked(s: SparkSession, d: String): DataFrame = {
    val packed = graft.api.TrainingData
      .quantizeInt8Packed(t(s, d, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("qvec"))
    packedCosineTopK(packed,
      packed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("qvec").as("q_qvec")),
      k = 5)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The fixture PQ geometry: 64 dims split into [[PqM]] subspaces of
    * [[PqDsub]]. 16 subspaces of 4 (16 B/vec) rather than 8 of 8: at the
    * same 16-entry codebooks the finer subspaces halve the quantization
    * cell volume per dimension, lifting measured recall@5 from 0.6 to the
    * ≥0.8 regime (LlmOpsSpec floor) while still compressing 16× vs
    * float32 — the recall/memory frontier point this library ships. The
    * oracle build CTEs below derive from the same constants, so the two
    * engines can never disagree on the geometry. */
  private[graft] val PqM = 16
  private[graft] val PqDsub = 64 / PqM
  /** ADC candidate-pool size before the exact re-rank: 32 (vs k=5) —
    * the second recall lever alongside the subspace geometry; the pool
    * is still a per-query constant, so the re-rank cost is flat. */
  private[graft] val PqRefine = 32

  /** X27 (product-quantization path) — ANN via PQ + ADC, the FAISS-style
    * big-corpus technique: 64 dims split into [[PqM]] subspaces of
    * [[PqDsub]]; each subspace trains its own deterministic 16-centroid
    * k-means (seeds = the 16 lowest-id vectors' subvectors, 2
    * integer-space Lloyd iterations — the x27c recipe per subspace), so
    * every corpus vector compresses to [[PqM]] codes. A query scans
    * CODES, not vectors: per-query lookup tables hold the PqM×16 partial
    * dots against the codebooks (quantized to integer micro-units so the
    * cross-subspace sum is order-invariant), the ADC score is one integer
    * sum per candidate, and the ADC top-[[PqRefine]] re-rank by exact cosine to the
    * final top-5. Codebooks minimize reconstruction L2; ADC scores are
    * inner products against reconstructions; emitted sims are EXACT
    * (re-ranked), so recall — not precision — is the only approximation
    * (spec-bounded vs the float brute force).
    *
    * Scale shape: the scan side reads 16 small ints per vector (4× less
    * than int8 packing, 16× less than float32), the per-query LUT is
    * 256 rows broadcast, and the score is a partial→final integer sum —
    * the classic memory-bandwidth-bound ADC kernel as a Spark plan. */
  def x27eAnnPq(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    pqProbe(e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      e, persistPqBooks(s, d), persistPqCodes(s, d),
      M = PqM, dims = 64, k = 5, refine = PqRefine)
      .orderBy(col("q_id"), col("rank"))
  }

  // PQ index fixture cache: the codebook build runs 2 driver-coordinated
  // Lloyd collects (PqM×16×PqDsub = 1024 scalars each — only those reach
  // the driver); codes are persisted because the ADC join references
  // them lazily.
  private def persistPqBooks(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("VectorOps.pqBooks", s, d)(
      pqCodebooks(s, t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        M = PqM, K = 16)._1)
  private def persistPqCodes(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("VectorOps.pqCodes", s, d)(
      pqAssign(subvecs(
          t(s, d, "embeddings").select(col("vec_id"), col("embedding")), PqM, 64),
        persistPqBooks(s, d))
        .select(col("vec_id"), col("m"), col("cid")).persist())

  /** X27 (scale path #4) — IVF-PQ: the two approximations composed, the
    * complete FAISS-style big-corpus recipe. The coarse quantizer of
    * [[x27cAnnIvf]] restricts which inverted lists a query reads (probe
    * the nProbe=4 nearest of 16 clusters), and WITHIN those lists the
    * scan reads PQ codes, not vectors — the [[x27eAnnPq]] ADC kernel over
    * the probed subset only. ADC top-[[PqRefine]] re-rank by exact cosine to the
    * final top-5. Non-residual variant (codebooks trained on raw vectors,
    * not per-cluster residuals): the same codes serve every nProbe and
    * the oracle replays both builds verbatim from the shared CTE chains.
    *
    * Scale shape: candidate generation is an equi-join on cid (no scan of
    * unprobed lists), the ADC score reads 8 small ints per candidate, and
    * both the centroid table and the per-query LUT broadcast — at 100 TB
    * the probed fraction (nProbe/nClusters) bounds every downstream
    * relation, which is exactly why FAISS pairs IVF with PQ. */
  def x27fAnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    ivfPqProbe(
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      persistIvfCentroids(s, d), persistIvfIndexed(s, d),
      persistPqBooks(s, d), persistPqCodes(s, d),
      M = PqM, dims = 64, k = 5, nProbe = 4, refine = PqRefine)
      .orderBy(col("q_id"), col("rank"))
  }

  /** X27 (scale path #5) — residual IVF-PQ, the full FAISS IVFPQ recipe:
    * PQ codebooks are trained on COARSE-QUANTIZER RESIDUALS (v − c(v)),
    * not raw vectors. Residuals are much smaller than the vectors
    * themselves (the coarse quantizer explains most of the magnitude),
    * so the same 16-entry-per-subspace codebooks spend their precision
    * on the within-cluster detail that actually ranks candidates —
    * measured recall moves from the ~0.5 regime of the non-residual
    * composition ([[x27fAnnIvfPq]]) to ≥0.7 (LlmOpsSpec floor). The ADC
    * score adds back the per-(query, cluster) coarse term:
    * ⟨q,v⟩ = ⟨q,c(v)⟩ + ⟨q,r_v⟩ ≈ qc + Σₘ LUT[qₘ, codeₘ(r_v)] — the
    * query is NOT residualized (inner-product metric), and qc is one
    * integer per probed (query, cluster), computed on the broadcast
    * centroid table. Exact-cosine re-rank as everywhere in X27.
    *
    * Scale shape: identical to [[x27fAnnIvfPq]] — candidate generation
    * is the probed-cluster equi-join, the scan reads [[PqM]] small ints
    * per candidate plus one extra broadcast integer per probed pair; the
    * residual encode is one broadcast join + row-local subtraction at
    * index-build time. */
  def x27hAnnIvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    ivfPqResidualProbe(
      e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      persistIvfCentroids(s, d), persistIvfIndexed(s, d),
      persistResPqBooks(s, d), persistResPqCodes(s, d),
      M = PqM, dims = 64, k = 5, nProbe = 4, refine = PqRefine)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The residual corpus: each indexed vector minus its cluster centroid,
    * componentwise in DOUBLE then cast back to float — the exact IEEE
    * operation sequence the oracle mirrors, so residuals are bit-equal
    * cross-engine. Row-local after one broadcast join. */
  private def persistResidualCorpus(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("VectorOps.residualCorpus", s, d)(
      persistIvfIndexed(s, d)
        .join(broadcast(persistIvfCentroids(s, d)), "cid")
        .select(col("vec_id"),
          zip_with(col("embedding"), col("cemb"),
            (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
            .as("embedding"))
        .persist())
  private def persistResPqBooks(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("VectorOps.residualPqBooks", s, d)(
      pqCodebooks(s, persistResidualCorpus(s, d), M = PqM, K = 16)._1)
  private def persistResPqCodes(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("VectorOps.residualPqCodes", s, d)(
      pqAssign(subvecs(persistResidualCorpus(s, d), PqM, 64),
        persistResPqBooks(s, d))
        .select(col("vec_id"), col("m"), col("cid")).persist())

  /** `(vec_id, m, sub)` subvector relation: dimension m·dsub..m·dsub+dsub
    * of every vector, m ∈ 0..M−1 — a row-local posexplode, no shuffle. */
  private[graft] def subvecs(e: DataFrame, M: Int, dims: Int): DataFrame = {
    val df = e.toDF("vec_id", "embedding")
    val dsub = dims / M
    df.select(col("vec_id"), posexplode(array((0 until M).map(m =>
        slice(col("embedding"), m * dsub + 1, dsub)): _*)))
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "sub")
  }

  /** Nearest-codebook-entry assignment per (vector, subspace) →
    * (vec_id, m, cid, sub). L2 in EXPANDED form — ⟨s,s⟩ − 2⟨s,c⟩ + ⟨c,c⟩
    * with left-to-right double folds — so the oracle can mirror the same
    * operation sequence; ties → lower cid (min(struct)). */
  private[graft] def pqAssign(sv: DataFrame, books: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    sv.join(broadcast(books), Seq("m"))
      .withColumn("dist",
        dot_product(col("sub"), col("sub"))
          - lit(2.0) * dot_product(col("sub"), col("cemb"))
          + dot_product(col("cemb"), col("cemb")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"),
        first(col("sub")).as("sub"))
      .select(col("vec_id"), col("m"), col("best.cid").as("cid"), col("sub"))
  }

  /** The PQ codebook build: per-subspace deterministic k-means →
    * a literal (m, cid, cemb) relation, M·K·dsub scalars total on the
    * driver. Same recipe as [[ivfCentroids]] (lowest-id seeds,
    * integer-space updates, 2 iterations), keyed by (m, cid) via a
    * composite int so the dsub-dim [[CentroidAggregator]] is reusable. */
  private[graft] def pqCodebooks(s: SparkSession, corpus: DataFrame,
      M: Int, K: Int): (DataFrame, Int) = {
    import s.implicits._
    val e = corpus.toDF("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def toLiteral(rows: Array[(Int, Int, Seq[Float])]): DataFrame =
      rows.toSeq.toDF("m", "cid", "cemb")
    val seeds = e.orderBy(col("vec_id")).limit(K)
      .select(col("embedding")).as[Seq[Float]].collect()
    require(seeds.nonEmpty, "PQ codebooks need a non-empty corpus")
    val dims = seeds.head.length
    require(dims % M == 0, s"dims $dims not divisible into $M subspaces")
    val dsub = dims / M
    val agg = new CentroidAggregator(dsub)
    var books = toLiteral(for {
      (emb, i) <- seeds.zipWithIndex.toArray
      m <- 0 until M
    } yield (m, i, emb.slice(m * dsub, (m + 1) * dsub)))
    val sv = subvecs(e, M, dims)
    (1 to 2).foreach { _ =>
      books = toLiteral(pqAssign(sv, books)
        .select((col("m") * K + col("cid")).cast("int").as("key"), col("sub"))
        .as[(Int, Seq[Float])]
        .groupByKey(_._1)
        .agg(agg.toColumn.name("c"))
        .map { case (key, c) => (key / K, key % K, c.map(_.toFloat)) }
        .collect())
    }
    e.unpersist()
    (books, dims)
  }

  /** ADC probe + exact re-rank over a built PQ index. The LUT is the
    * per-query partial-dot table (M·K rows each) quantized to integer
    * micro-units — the cross-subspace sum is then order-invariant; the
    * ADC top-`refine` re-rank by exact cosine. */
  /** The per-query ADC lookup table: for every (query, subspace, code),
    * the partial dot of the query's subvector against the codebook entry,
    * quantized to integer micro-units so the cross-subspace sum is
    * order-invariant → (q_id, m, cid, pdq). M·K rows per query. */
  private def pqLut(queries: DataFrame, books: DataFrame, M: Int,
      dims: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    subvecs(queries.toDF("q_id", "q_emb"), M, dims)
      .toDF("q_id", "m", "qsub")
      .join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("m"), col("cid"),
        round(dot_product(col("qsub"), col("cemb")) * 1e6)
          .cast("long").as("pdq"))
  }

  private[graft] def pqProbe(queries: DataFrame, corpus: DataFrame,
      books: DataFrame, codes: DataFrame, M: Int, dims: Int, k: Int,
      refine: Int): DataFrame = {
    val e = corpus.toDF("vec_id", "embedding")
    val lut = pqLut(queries.toDF("q_id", "q_emb"), books, M, dims)
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("shat").desc, col("vec_id"))
    val cands = codes.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pdq")).as("shat"))
      .withColumn("rn", row_number().over(wCand))
      .filter(col("rn") <= refine)
      .select(col("q_id"), col("vec_id").as("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    cands
      .join(e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")), "c_id")
      .join(queries.toDF("q_id", "q_emb"), "q_id")
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .filter(col("sim").isNotNull) // zero vectors rank nowhere (see cosineTopK)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** IVF-restricted ADC probe + exact re-rank — the composed IVF-PQ
    * kernel shared by [[x27fAnnIvfPq]] and the parametric API
    * (graft.api.TrainingData.annTopKIvfPq). Queries probe their `nProbe`
    * nearest centroids; candidates are exactly the probed clusters'
    * members (an equi-join on cid against the assigned corpus); ADC
    * scores their PQ codes via the broadcast per-query LUT; the ADC
    * top-`refine` re-rank by exact cosine. Tie-breaks match the plain
    * PQ path (shat DESC then id; sim DESC then id). */
  private[graft] def ivfPqProbe(queries: DataFrame, centroids: DataFrame,
      indexed: DataFrame, books: DataFrame, codes: DataFrame, M: Int,
      dims: Int, k: Int, nProbe: Int, refine: Int): DataFrame = {
    val q = queries.toDF("q_id", "q_emb")
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("cid"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("q_emb"), col("cemb")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("cid"))
    // the probed inverted lists: every (query, candidate) the ADC scan
    // is allowed to read — nothing outside a probed cluster is touched
    val cand = probes.join(indexed.select(col("vec_id"), col("cid")), "cid")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val lut = pqLut(q, books, M, dims)
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("shat").desc, col("vec_id"))
    val adc = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("q_id", "m", "cid"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pdq")).as("shat"))
      .withColumn("rn", row_number().over(wCand))
      .filter(col("rn") <= refine)
      .select(col("q_id"), col("vec_id").as("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    adc
      .join(indexed.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb")), "c_id")
      .join(q, "q_id")
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .filter(col("sim").isNotNull) // zero vectors rank nowhere (see cosineTopK)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** Residual-encoded IVF-PQ probe — the [[ivfPqProbe]] shape plus the
    * coarse term: probes carry qc = round(⟨q, cemb⟩·10⁶) per probed
    * (query, cluster); the ADC score is qc + the residual-codebook LUT
    * sum (query subvectors RAW — inner-product metric residualizes only
    * the database side). Tie-breaks match the other PQ paths. */
  private[graft] def ivfPqResidualProbe(queries: DataFrame,
      centroids: DataFrame, indexed: DataFrame, books: DataFrame,
      codes: DataFrame, M: Int, dims: Int, k: Int, nProbe: Int,
      refine: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val q = queries.toDF("q_id", "q_emb")
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("cid"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("q_emb"), col("cemb")))
      .withColumn("qc",
        round(dot_product(col("q_emb"), col("cemb")) * 1e6).cast("long"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("cid"), col("qc"))
    val cand = probes.join(indexed.select(col("vec_id"), col("cid")), "cid")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qc"), col("vec_id"))
    val lut = pqLut(q, books, M, dims)
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("shat").desc, col("vec_id"))
    val adc = cand.join(codes, "vec_id")
      .join(broadcast(lut), Seq("q_id", "m", "cid"))
      .groupBy(col("q_id"), col("vec_id"), col("qc"))
      .agg(sum(col("pdq")).as("sres"))
      .withColumn("shat", col("qc") + col("sres"))
      .withColumn("rn", row_number().over(wCand))
      .filter(col("rn") <= refine)
      .select(col("q_id"), col("vec_id").as("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    adc
      .join(indexed.select(col("vec_id").as("c_id"),
        col("embedding").as("c_emb")), "c_id")
      .join(q, "q_id")
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .filter(col("sim").isNotNull) // zero vectors rank nowhere (see cosineTopK)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** Packed-corpus brute-force top-k core — shared by the fixture query
    * above and the parametric API (TrainingData.cosineTopKPacked). Same
    * shape as the float baseline (stream side widened, query side
    * broadcast); ties broken on id for determinism. */
  private[graft] def packedCosineTopK(packed: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    import graft.functions.VectorFunctions.int8_dot
    val c = packed.toDF("c_id", "c_qvec")
      .withColumn("c_nrm", sqrt(int8_dot(col("c_qvec"), col("c_qvec")).cast("double")))
      .filter(col("c_nrm") > 0)
    val q = queries.toDF("q_id", "q_qvec")
      .withColumn("q_nrm", sqrt(int8_dot(col("q_qvec"), col("q_qvec")).cast("double")))
      .filter(col("q_nrm") > 0)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    fanOut(c).crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("sim", round(
        int8_dot(col("q_qvec"), col("c_qvec")).cast("double") /
          (col("q_nrm") * col("c_nrm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
  }

  /** X30 — custom typed Aggregator: per-label centroid computed in scaled
    * integer space (×10⁶ → long) so partial-aggregation order cannot
    * perturb the result; parametric in dimension count. */
  sealed class CentroidAggregator(Dims: Int)
      extends Aggregator[(Int, Seq[Float]), (Long, Array[Long]), Seq[Double]] {
    private val Scale = 1000000L
    // half-away-from-zero, matching SQL round() in both engines
    // (math.round is half-up, which differs on negative halves)
    private def r0(v: Double): Long =
      (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
    def zero: (Long, Array[Long]) = (0L, Array.fill(Dims)(0L))
    def reduce(b: (Long, Array[Long]), v: (Int, Seq[Float])): (Long, Array[Long]) = {
      require(v._2.length == Dims,
        s"expected $Dims-dim embedding, got ${v._2.length}")
      var i = 0
      while (i < Dims) { b._2(i) += r0(v._2(i).toDouble * Scale); i += 1 }
      (b._1 + 1, b._2)
    }
    def merge(a: (Long, Array[Long]), b: (Long, Array[Long])): (Long, Array[Long]) = {
      var i = 0
      while (i < Dims) { a._2(i) += b._2(i); i += 1 }
      (a._1 + b._1, a._2)
    }
    // the 6-dp mean is computed as an EXACT integer in micro-units —
    // half-up of the rational s/n via (2s+n) div (2n) — then divided by
    // 1e6 once. The previous double-mediated spelling
    // (BigDecimal(s/n/1e6).setScale(6)) disagreed with DuckDB's
    // multiply-based round() precisely when the exact mean lands on a
    // .5-micro boundary (s/n = k+1/2 — probability ~1/n per component,
    // ~30 of the 1024 fixture centroid components): the ORACLES.md §5b
    // trap, latent until x53 consumed per-row centroid cosines. Integer
    // division has no boundary; both engines then perform the same
    // correctly-rounded q/1e6.
    def finish(r: (Long, Array[Long])): Seq[Double] = {
      val n = r._1
      r._2.toSeq.map { s2 =>
        val q = if (s2 >= 0) (2 * s2 + n) / (2 * n)
        else -((2 * -s2 + n) / (2 * n))
        q.toDouble / 1000000.0
      }
    }
    def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Array[Long])]()
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** The 64-dim instance bound by the fixture queries/specs. */
  object CentroidAgg extends CentroidAggregator(64)

  /** X30 query — label centroids via the custom Aggregator. */
  def x30Centroid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = t(s, d, "embeddings").select(col("label"), col("embedding"))
      .as[(Int, Seq[Float])]
    ds.groupByKey(_._1)
      .agg(CentroidAgg.toColumn.name("centroid"))
      .toDF("label", "centroid")
      .select(col("label"),
        element_at(col("centroid"), 1).as("c1"),
        element_at(col("centroid"), 2).as("c2"),
        element_at(col("centroid"), 3).as("c3"),
        element_at(col("centroid"), 4).as("c4"))
      .orderBy(col("label"))
  }

  /** X30 — symmetric int8 quantization of embeddings (the memory-scale
    * path for a 100 TB vector corpus: 4× smaller than float32, dot
    * products in integer SIMD): per-vector `scale = max|x|/127`,
    * `q = floor(x/scale + 0.5)` (half-up in exact double arithmetic on
    * BOTH engines — `round()` differs between them on negative halves),
    * plus saturation count and reconstruction MSE. All column algebra;
    * no data leaves the executors. */
  def x30cQuantize(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData
      .quantizeInt8(t(s, d, "embeddings"), "vec_id", "embedding", 64)
      .orderBy(col("vec_id"))

  /** X30 — packed int8 quantization: the storage form (one byte/dim).
    * The blob surfaces as an UPPERCASE hex string so the DuckDB oracle
    * compares the exact packed BYTES, not just stats — both engines
    * agree on hex() case and the two's-complement `& 255` byte map. */
  def x30dQuantizePacked(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData
      .quantizeInt8Packed(t(s, d, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), col("scale_r"), hex(col("qvec")).as("qhex"))
      .orderBy(col("vec_id"))

  /** X30 — scalar UDF surface demo (built-ins are preferred everywhere
    * else; trivial semantics keep the oracle expressible). */
  def x30bUdf(s: SparkSession, d: String): DataFrame = {
    val f = udf((text: String) => text.length * 2 + 1)
    t(s, d, "documents")
      .select(col("doc_id"), f(col("text")).as("udf_val"))
      .orderBy(col("doc_id"))
  }

  /** X113 — per-label centroid drift between the vec_id-parity halves of
    * the embedding corpus: exact integer (dot, ‖a‖², ‖b‖²) of the
    * micro-quantized centroid means + derived cos²·10⁶ — the
    * embedding-space corpus-version diff. Fixture binding of
    * [[graft.api.TrainingData.centroidDrift]]. */
  def x113CentroidDrift(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.centroidDrift(
      t(s, d, "embeddings"), "vec_id", "embedding", "label")
      .orderBy(col("label"))

  /** X130 — Matryoshka truncation audit at 32 of 64 dims: per vector
    * the exact fraction of squared norm surviving truncation (micro
    * units) + the corpus mean — the measurement behind a
    * dimension-truncation storage decision for the ANN index. Fixture
    * binding of [[graft.api.TrainingData.matryoshkaAudit]]. */
  def x130Matryoshka(s: SparkSession, d: String): DataFrame =
    graft.api.TrainingData.matryoshkaAudit(
      t(s, d, "embeddings"), "vec_id", "embedding", prefixDims = 32)
      .orderBy(col("vec_id"))

  /** X195 — simplified (centroid-based) silhouette of the shared IVF
    * index: per vector, cohesion a = cosine distance to OWN centroid
    * and separation b = distance to the NEAREST OTHER centroid, s =
    * (b − a)/max(a, b) ∈ [−1, 1]; per-cluster means + the corpus mean
    * answer "are these clusters real structure or partition noise"
    * before any clustering-dependent op (SemDeDup, x53 pruning, IVF
    * recall targets) trusts the index. The centroid-based form is the
    * one that SCALES — classic silhouette's all-pairs a/b is exactly
    * the quadratic the index exists to avoid.
    *
    * Exactness: sims quantized once via the x40b two-step recipe
    * (round 6 dp, then scale); a, b, s and the means are pure integer
    * with sign-explicit truncated divisions (s and mean s are signed —
    * Spark div truncates, DuckDB // floors). Zero vectors carry no
    * direction → excluded (the cosineTopK convention). */
  def x195Silhouette(s: SparkSession, d: String): DataFrame = {
    val sims = persistIvfIndexed(s, d)
      .crossJoin(broadcast(persistIvfCentroids(s, d)
        .select(col("cid").as("ccid"), col("cemb"))))
      .withColumn("sim_micro",
        round(round(cosine(col("embedding"), col("cemb")), 6) * 1e6)
          .cast("long"))
      .filter(col("sim_micro").isNotNull)
      .select(col("vec_id"), col("cid"), col("ccid"), col("sim_micro"))
    val own = sims.filter(col("cid") === col("ccid"))
      .select(col("vec_id"), col("cid"),
        (lit(1000000L) - col("sim_micro")).as("a_micro"))
    val other = sims.filter(col("cid") =!= col("ccid"))
      .groupBy(col("vec_id"))
      .agg((lit(1000000L) - max(col("sim_micro"))).as("b_micro"))
    val si = own.join(other, Seq("vec_id"))
      .select(col("vec_id"), col("cid"), col("a_micro"), col("b_micro"),
        when(greatest(col("a_micro"), col("b_micro")) === 0, lit(0L))
          .otherwise(expr(
            "CAST(sign(b_micro - a_micro) * ((1000000" +
              " * abs(b_micro - a_micro))" +
              " div greatest(a_micro, b_micro)) AS BIGINT)"))
          .as("s_micro"))
      .localCheckpoint(true) // vector grain; feeds per-cluster + corpus
    val overall = si.agg(
      expr("CAST(sign(sum(s_micro)) * (abs(sum(s_micro))" +
        " div count(1)) AS BIGINT)").as("overall_s_micro"))
    si.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(a_micro) div count(1)").as("mean_a_micro"),
        expr("sum(b_micro) div count(1)").as("mean_b_micro"),
        expr("CAST(sign(sum(s_micro)) * (abs(sum(s_micro))" +
          " div count(1)) AS BIGINT)").as("mean_s_micro"))
      .crossJoin(broadcast(overall))
      .orderBy(col("cid"))
  }

  /** X206 — Borda-count fusion of the SAME two rankings as x97's RRF
    * (cosine top-50 + L2 top-50, poolK = 50): the linear positional
    * vote beside RRF's reciprocal discount — the standard fusion
    * ablation pair. Fixture binding of
    * [[graft.api.TrainingData.bordaFusion]]. */
  def x206Borda(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    graft.api.TrainingData.bordaFusion(Seq(
      graft.api.TrainingData.cosineTopK(e, q, "vec_id", "embedding", 50),
      graft.api.TrainingData.l2TopK(e, q, "vec_id", "embedding", 50)),
      poolK = 50, topK = 5)
      .orderBy(col("q_id"), col("rank"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x206_borda" -> (x206Borda _),
    "x195_silhouette" -> (x195Silhouette _),
    "x130_matryoshka" -> (x130Matryoshka _),
    "x26d_embedding_neardup" -> (x26dEmbeddingNearDup _),
    "x26f_embedding_neardup_lsh" -> (x26fEmbeddingNearDupLsh _),
    "x113_centroid_drift" -> (x113CentroidDrift _),
    "x118_kcenter_coreset" -> (x118KCenterCoreset _),
    "x27_cosine_topk" -> (x27TopK _),
    "x73_hard_negatives" -> (x73HardNegatives _),
    "x82_mmr_diverse" -> (x82MmrDiverse _),
    "x97_rrf_fusion" -> (x97RrfFusion _),
    "x27b_ann_lsh" -> (x27bAnnLsh _),
    "x27c_ann_ivf" -> (x27cAnnIvf _),
    "x27d_ann_packed" -> (x27dAnnPacked _),
    "x27e_ann_pq" -> (x27eAnnPq _),
    "x27f_ann_ivfpq" -> (x27fAnnIvfPq _),
    "x27h_ann_ivfpq_residual" -> (x27hAnnIvfPqResidual _),
    "x27g_knn_graph" -> (x27gKnnGraph _),
    "x45_ivf_append" -> (x45IvfAppend _),
    "x40_semdedup" -> (x40SemDedup _),
    "x40b_cluster_profile" -> (x40bClusterProfile _),
    "x53_prototype_prune" -> (x53PrototypePrune _),
    "x30_centroid_agg" -> (x30Centroid _),
    "x30b_scalar_udf" -> (x30bUdf _),
    "x30c_quantize_int8" -> (x30cQuantize _),
    "x30d_quantize_packed" -> (x30dQuantizePacked _))

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  // The SRP hyperplane sign row for (table, plane) at 64 dims, as a
  // '+'/'-' string. The signs are DATA-INDEPENDENT algorithm constants —
  // exactly like the MinHash permutation coefficients the x26b oracle
  // interpolates — so the oracle receives them as literals and replays
  // everything computed FROM data (projection fold, sign, bucket join,
  // cosine verify) itself. Must stay bit-identical to SrpBuckets.signsFor
  // (graft.functions.SrpExpressions): xxhash64 chained t→p→i from seed 42.
  private def srpSignStr(t: Int, p: Int, dims: Int): String =
    (0 until dims).map { i =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      var h = XXH64.hashInt(t, 42L)
      h = XXH64.hashInt(p, h)
      h = XXH64.hashInt(i, h)
      if (h % 2 == 0) '+' else '-'
    }.mkString

  // shared oracle fragments for the 8-table SRP config both LSH fixtures
  // (x26f, x27b) use: the sign literals and the CTE chain projecting
  // `src` (vec_id, embedding) into per-table bucket keys with the SAME
  // left-to-right double fold SrpBuckets evaluates. Sign literals are
  // data-independent algorithm constants, so they are generated to the
  // MAXIMUM plane count (24) once; `bitsSql` — a literal for the
  // fixed-config x27b, the count-derived nbits subquery for the adaptive
  // x26f — selects the PREFIX of planes that participates. 24 planes
  // cover srpBitsFor counts up to 64·2^24 ≈ 1.07e9 rows, far past any
  // oracle-checkable fixture; the engine itself has no such ceiling.
  private[graft] val MaxOracleSrpBits = 24
  private lazy val srpSignRows: String =
    (for (tb <- 0 until 8; p <- 0 until MaxOracleSrpBits)
      yield s"($tb, $p, '${srpSignStr(tb, p, 64)}')").mkString(",\n    ")
  private def srpBucketCtes(src: String, bitsSql: String = "4"): String =
    s"""signs(t, p, sgns) AS (VALUES
       |    $srpSignRows),
       |proj AS (
       |  SELECT e.vec_id, s.t, s.p,
       |    list_reduce(list_transform(range(1, 65),
       |      i -> CASE WHEN substring(s.sgns, i, 1) = '+'
       |           THEN CAST(e.embedding[i] AS DOUBLE)
       |           ELSE -CAST(e.embedding[i] AS DOUBLE) END),
       |      (a, b) -> a + b) AS proj
       |  FROM $src e CROSS JOIN signs s WHERE s.p < ($bitsSql)),
       |buckets AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bkey
       |  FROM proj GROUP BY 1, 2)""".stripMargin
  // srpBitsFor replayed in SQL — the smallest b ≥ 4 with 64·2^b ≥
  // count(*), the same shift-and-compare integer derivation (no float
  // log2: libm ulp disagreement at power-of-two boundaries would flip
  // the geometry). 56 is srpBitsFor's own cap, unreachable here.
  private def srpNbitsCte(countSrc: String): String =
    s"""nbits AS (
       |  SELECT greatest(4, coalesce(min(r.range), 56)) AS b
       |  FROM range(0, 56) r, (SELECT count(*) AS n FROM $countSrc) nb
       |  WHERE (CAST(64 AS BIGINT) << r.range) >= nb.n)""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  // The deterministic IVF index build as one reusable CTE chain — seeds
  // (16 lowest-id vectors) → 2 unrolled Lloyd iterations (assignment
  // ties → HIGHER cid like Spark's max(struct); integer-space centroid
  // update, the x30 portable-mean spelling) → final assignment `asgf`
  // and final centroids `c2`. Shared verbatim by every oracle that
  // consumes the index (x27c probe, x40 within-cluster dedup, x40b
  // profile) so the replayed build can never drift between them.
  private def assignCte(cent: String, name: String,
      src: String = "embeddings") =
    s"""$name AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cemb")} DESC, c.cid DESC) AS rn
       |    FROM $src e CROSS JOIN $cent c)
       |  WHERE rn = 1)""".stripMargin
  // Two portability traps fixed here, both latent until x53 consumed
  // per-row centroid cosines (every earlier consumer averaged or ranked
  // them away):
  //  1. the member quantization multiplies in DOUBLE explicitly —
  //     DuckDB's REAL*INTEGER stays float32, whose product snaps onto
  //     .5-micro boundaries (ulp ~0.016 at 1e5 magnitude) and rounds
  //     off-by-one vs Spark's toDouble*1e6 on ~1 % of members;
  //  2. the mean is rounded to 6 dp as an EXACT integer in micro-units —
  //     (2s+n) // (2n), the CentroidAggregator.finish spelling — because
  //     round(s/n/1e6, 6) is multiply-based here while finish used to
  //     round the decimal expansion: the two disagreed exactly on
  //     .5-micro means (s/n = k+1/2, probability ~1/n per component)
  private def meanMicroSql(s: String, n: String): String =
    s"(CASE WHEN $s >= 0 THEN (2*$s + $n) // (2*$n) ELSE -((2*(-($s)) + $n) // (2*$n)) END)"
  private def updateCte(asg: String, sums: String, cent: String) =
    s"""$sums AS (
       |  SELECT cid, i,
       |    sum(CAST(round(CAST(embedding[i] AS DOUBLE)*1000000, 0) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM $asg CROSS JOIN range(1, 65) AS r(i)
       |  GROUP BY cid, i),
       |$cent AS (
       |  SELECT cid,
       |    list(CAST(${meanMicroSql("s", "n")} / 1000000.0 AS REAL) ORDER BY i) AS cemb
       |  FROM $sums GROUP BY cid)""".stripMargin
  // subspace-dim dot with the same left-to-right double fold as
  // dot_product over the sliced subvectors; bound derives from PqDsub so
  // the oracle geometry tracks the Spark constant
  private def d8Sql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${PqDsub + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  // The deterministic PQ codebook build as one CTE chain (the x27c Lloyd
  // recipe per SUBSPACE, keyed by m): subvector relation `sv`, seed
  // codebooks b0 (16 lowest-id vectors' subvectors), 2 integer-space
  // Lloyd iterations (assignment by EXPANDED L2 — ⟨s,s⟩ − 2⟨s,c⟩ + ⟨c,c⟩,
  // the same operation sequence pqAssign evaluates; ties → LOWER cid) →
  // final codebooks `b2` and code assignment `codes`.
  private def pqAssignCte(books: String, name: String) =
    s"""$name AS (
       |  SELECT vec_id, m, sub, cid FROM (
       |    SELECT s.vec_id, s.m, s.sub, b.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY (${d8Sql("s.sub", "s.sub")} - 2.0 * ${d8Sql("s.sub", "b.cemb")} + ${d8Sql("b.cemb", "b.cemb")}) ASC, b.cid ASC) AS rn
       |    FROM sv s JOIN $books b ON b.m = s.m)
       |  WHERE rn = 1)""".stripMargin
  private def pqUpdateCte(asg: String, sums: String, books: String) =
    s"""$sums AS (
       |  SELECT m, cid, i,
       |    sum(CAST(round(CAST(sub[i] AS DOUBLE)*1000000, 0) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM $asg CROSS JOIN range(1, ${PqDsub + 1}) AS r(i)
       |  GROUP BY m, cid, i),
       |$books AS (
       |  SELECT m, cid,
       |    list(CAST(${meanMicroSql("s", "n")} / 1000000.0 AS REAL) ORDER BY i) AS cemb
       |  FROM $sums GROUP BY m, cid)""".stripMargin
  /** The PQ build chain over any `(vec_id, embedding)` source relation —
    * `embeddings` for the raw-vector indexes (x27e/x27f), the residual
    * relation for x27h. */
  private def pqBuildCtesOn(src: String): String =
    s"""sv AS (
       |  SELECT vec_id, m,
       |    list_transform(range(1, ${PqDsub + 1}), i -> embedding[m*$PqDsub + i]) AS sub
       |  FROM $src CROSS JOIN range(0, $PqM) AS r(m)),
       |b0 AS (
       |  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INTEGER) AS cid,
       |    list_transform(range(1, ${PqDsub + 1}), i -> embedding[m*$PqDsub + i]) AS cemb
       |  FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT 16)
       |  CROSS JOIN range(0, $PqM) AS r(m)),
       |${pqAssignCte("b0", "a1")},
       |${pqUpdateCte("a1", "ps1", "b1")},
       |${pqAssignCte("b1", "a2")},
       |${pqUpdateCte("a2", "ps2", "b2")},
       |${pqAssignCte("b2", "codes")}""".stripMargin
  private lazy val pqBuildCtes: String = pqBuildCtesOn("embeddings")

  /** The deterministic IVF build (seeds → 2 Lloyd iterations → final
    * centroids c2 + assignment asgf) over any `(vec_id, embedding)`
    * source relation — `embeddings` for the shared index oracles, a
    * filtered subset for the incremental-append oracle. */
  private def ivfBuildCtesOn(src: String): String =
    s"""c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
       |    embedding AS cemb
       |  FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT 16)),
       |${assignCte("c0", "asg1", src)},
       |${updateCte("asg1", "s1", "c1")},
       |${assignCte("c1", "asg2", src)},
       |${updateCte("asg2", "s2", "c2")},
       |${assignCte("c2", "asgf", src)}""".stripMargin
  private lazy val ivfBuildCtes: String = ivfBuildCtesOn("embeddings")

  val oracles: Map[String, String] = Map(
    // Borda replay: the x97 ranking CTEs, linear 51−rank points,
    // per-(q,c) point sum + list count, deterministic fused top-5
    "x206_borda" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
         |sims AS (
         |  SELECT q_id, c_id,
         |   round(${dotSql("q_emb", "c_emb")} /
         |     (sqrt(${dotSql("q_emb", "q_emb")}) * sqrt(${dotSql("c_emb", "c_emb")})), 6) AS sim,
         |   round(${dotSql("q_emb", "q_emb")} - 2 * ${dotSql("q_emb", "c_emb")}
         |     + ${dotSql("c_emb", "c_emb")}, 6) AS dist2
         |  FROM c CROSS JOIN q WHERE q_id <> c_id),
         |ra AS (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
         |  FROM sims WHERE sim IS NOT NULL),
         |rb AS (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY dist2, c_id) AS rank
         |  FROM sims WHERE dist2 IS NOT NULL),
         |u AS (
         |  SELECT q_id, c_id, 51 - rank AS points FROM ra WHERE rank <= 50
         |  UNION ALL
         |  SELECT q_id, c_id, 51 - rank FROM rb WHERE rank <= 50),
         |f AS (SELECT q_id, c_id, CAST(sum(points) AS BIGINT) AS borda_score,
         |  CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY 1, 2),
         |r AS (SELECT q_id, c_id, borda_score, n_lists,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY borda_score DESC, c_id) AS INTEGER) AS rank FROM f)
         |SELECT q_id, c_id, borda_score, n_lists, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // silhouette replay: the shared full index-build chain, the x40b
    // two-step quantization, own/nearest-other split, sign-explicit
    // truncated s and means
    "x195_silhouette" ->
      s"""WITH $ivfBuildCtes,
         |sims AS (
         |  SELECT a.vec_id, a.cid, c.cid AS ccid,
         |    CAST(round(round(${cosSql("a.embedding", "c.cemb")}, 6)
         |      * 1000000, 0) AS BIGINT) AS sim_micro
         |  FROM asgf a, c2 c),
         |f AS (SELECT * FROM sims WHERE sim_micro IS NOT NULL),
         |own AS (SELECT vec_id, cid, 1000000 - sim_micro AS a_micro
         |  FROM f WHERE cid = ccid),
         |oth AS (SELECT vec_id, 1000000 - max(sim_micro) AS b_micro
         |  FROM f WHERE cid <> ccid GROUP BY 1),
         |si AS (SELECT o.vec_id, o.cid, o.a_micro, t.b_micro,
         |    CASE WHEN greatest(o.a_micro, t.b_micro) = 0 THEN 0
         |      ELSE CAST(sign(t.b_micro - o.a_micro)
         |        * ((1000000 * abs(t.b_micro - o.a_micro))
         |        // greatest(o.a_micro, t.b_micro)) AS BIGINT)
         |    END AS s_micro
         |  FROM own o JOIN oth t USING (vec_id)),
         |ov AS (SELECT CAST(sign(sum(s_micro)) * (abs(sum(s_micro))
         |    // count(*)) AS BIGINT) AS overall_s_micro FROM si)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(a_micro) // count(*) AS BIGINT) AS mean_a_micro,
         |  CAST(sum(b_micro) // count(*) AS BIGINT) AS mean_b_micro,
         |  CAST(sign(sum(s_micro)) * (abs(sum(s_micro)) // count(*))
         |    AS BIGINT) AS mean_s_micro,
         |  overall_s_micro
         |FROM si, ov GROUP BY cid, overall_s_micro
         |ORDER BY cid""".stripMargin,
    // full PQ replay: the codebook training (PqM subspaces × 16 codes ×
    // 2 Lloyd iterations), the code assignment, the per-query LUT
    // (partial dots quantized to integer micro-units so the 8-way ADC
    // sum is order-invariant), the ADC top-PqRefine candidate rank (integer
    // scores, ties → lower id) and the exact-cosine re-rank
    "x27e_ann_pq" ->
      s"""WITH $pqBuildCtes,
         |lut AS (
         |  SELECT s.vec_id AS q_id, s.m, b.cid,
         |    CAST(round(${d8Sql("s.sub", "b.cemb")} * 1000000, 0) AS BIGINT) AS pdq
         |  FROM sv s JOIN b2 b ON b.m = s.m WHERE s.vec_id < 20),
         |shat AS (
         |  SELECT l.q_id, c.vec_id,
         |    CAST(sum(pdq) AS BIGINT) AS shat
         |  FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
         |  WHERE c.vec_id <> l.q_id
         |  GROUP BY l.q_id, c.vec_id),
         |cands AS (
         |  SELECT q_id, vec_id AS c_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY shat DESC, vec_id) AS rn
         |    FROM shat)
         |  WHERE rn <= $PqRefine),
         |sims AS (
         |  SELECT q_id, c_id, round(${cosSql("qe.embedding", "ce.embedding")}, 6) AS sim
         |  FROM cands
         |  JOIN embeddings qe ON qe.vec_id = q_id
         |  JOIN embeddings ce ON ce.vec_id = c_id),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
         |  FROM sims WHERE sim IS NOT NULL)
         |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // full IVF-PQ replay: BOTH build chains (disjoint CTE names — the
    // IVF chain's sums are s1/s2, the PQ chain's ps1/ps2) verbatim, then
    // the probe (top-4 centroids, ties → lower cid), the candidate
    // restriction to probed clusters' members, the ADC integer sum over
    // those candidates' codes only, the top-PqRefine ADC rank and the exact
    // re-rank — every stage the Spark plan runs
    "x27f_ann_ivfpq" ->
      s"""WITH $ivfBuildCtes,
         |$pqBuildCtes,
         |probes AS (
         |  SELECT q_id, cid FROM (
         |    SELECT q.vec_id AS q_id, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings q CROSS JOIN c2 c WHERE q.vec_id < 20)
         |  WHERE rn <= 4),
         |cand AS (
         |  SELECT p.q_id, a.vec_id
         |  FROM probes p JOIN asgf a ON a.cid = p.cid AND a.vec_id <> p.q_id),
         |lut AS (
         |  SELECT s.vec_id AS q_id, s.m, b.cid,
         |    CAST(round(${d8Sql("s.sub", "b.cemb")} * 1000000, 0) AS BIGINT) AS pdq
         |  FROM sv s JOIN b2 b ON b.m = s.m WHERE s.vec_id < 20),
         |shat AS (
         |  SELECT cd.q_id, cd.vec_id,
         |    CAST(sum(pdq) AS BIGINT) AS shat
         |  FROM cand cd
         |  JOIN codes c ON c.vec_id = cd.vec_id
         |  JOIN lut l ON l.q_id = cd.q_id AND l.m = c.m AND l.cid = c.cid
         |  GROUP BY cd.q_id, cd.vec_id),
         |cands AS (
         |  SELECT q_id, vec_id AS c_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY shat DESC, vec_id) AS rn
         |    FROM shat)
         |  WHERE rn <= $PqRefine),
         |sims AS (
         |  SELECT q_id, c_id, round(${cosSql("qe.embedding", "ce.embedding")}, 6) AS sim
         |  FROM cands
         |  JOIN embeddings qe ON qe.vec_id = q_id
         |  JOIN embeddings ce ON ce.vec_id = c_id),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
         |  FROM sims WHERE sim IS NOT NULL)
         |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // residual IVF-PQ replay: the IVF chain verbatim, the residual
    // relation (v − c(v) in DOUBLE, cast back to REAL — the same IEEE
    // sequence the Spark zip_with evaluates), the PQ chain trained ON
    // the residuals, a RAW-query subvector LUT (inner-product metric:
    // only the database side is residualized), and the ADC sum with the
    // per-(query, cluster) coarse term qc added back — every stage the
    // Spark plan runs
    "x27h_ann_ivfpq_residual" ->
      s"""WITH $ivfBuildCtes,
         |res AS (
         |  SELECT a.vec_id,
         |    list_transform(range(1, 65),
         |      i -> CAST(CAST(a.embedding[i] AS DOUBLE) - CAST(c.cemb[i] AS DOUBLE) AS REAL)) AS embedding
         |  FROM asgf a JOIN c2 c ON c.cid = a.cid),
         |${pqBuildCtesOn("res")},
         |qsv AS (
         |  SELECT vec_id, m,
         |    list_transform(range(1, ${PqDsub + 1}), i -> embedding[m*$PqDsub + i]) AS sub
         |  FROM embeddings CROSS JOIN range(0, $PqM) AS r(m)
         |  WHERE vec_id < 20),
         |probes AS (
         |  SELECT q_id, cid, qc FROM (
         |    SELECT q.vec_id AS q_id, c.cid,
         |      CAST(round(${dotSql("q.embedding", "c.cemb")} * 1000000, 0) AS BIGINT) AS qc,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings q CROSS JOIN c2 c WHERE q.vec_id < 20)
         |  WHERE rn <= 4),
         |cand AS (
         |  SELECT p.q_id, p.qc, a.vec_id
         |  FROM probes p JOIN asgf a ON a.cid = p.cid AND a.vec_id <> p.q_id),
         |lut AS (
         |  SELECT s.vec_id AS q_id, s.m, b.cid,
         |    CAST(round(${d8Sql("s.sub", "b.cemb")} * 1000000, 0) AS BIGINT) AS pdq
         |  FROM qsv s JOIN b2 b ON b.m = s.m),
         |shat AS (
         |  SELECT cd.q_id, cd.vec_id,
         |    cd.qc + CAST(sum(pdq) AS BIGINT) AS shat
         |  FROM cand cd
         |  JOIN codes c ON c.vec_id = cd.vec_id
         |  JOIN lut l ON l.q_id = cd.q_id AND l.m = c.m AND l.cid = c.cid
         |  GROUP BY cd.q_id, cd.vec_id, cd.qc),
         |cands AS (
         |  SELECT q_id, vec_id AS c_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY shat DESC, vec_id) AS rn
         |    FROM shat)
         |  WHERE rn <= $PqRefine),
         |sims AS (
         |  SELECT q_id, c_id, round(${cosSql("qe.embedding", "ce.embedding")}, 6) AS sim
         |  FROM cands
         |  JOIN embeddings qe ON qe.vec_id = q_id
         |  JOIN embeddings ce ON ce.vec_id = c_id),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
         |  FROM sims WHERE sim IS NOT NULL)
         |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // kNN-graph replay: the same build chain, then the within-cluster
    // pair scan in BOTH directions (vec_id <> n_id) and a per-vector
    // top-3 window — mirroring that the Spark side's candidates come
    // from an equi-join on cid, never a global cross join
    "x27g_knn_graph" ->
      s"""WITH $ivfBuildCtes,
         |pairs AS (
         |  SELECT a.vec_id, b.vec_id AS n_id, a.cid,
         |    round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM asgf a JOIN asgf b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, n_id, cid, sim,
         |    CAST(row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, n_id) AS INTEGER) AS rank
         |  FROM pairs WHERE sim IS NOT NULL)
         |SELECT vec_id, n_id, cid, sim, rank FROM ranked WHERE rank <= 3
         |ORDER BY vec_id, rank""".stripMargin,
    // incremental-append replay: the Lloyd build runs on the OLD 80 %
    // only (the parameterized chain), then the new batch is assigned to
    // the frozen final centroids — same tie rule (higher cid) as the
    // Spark max(struct) argmax
    "x45_ivf_append" ->
      s"""WITH old AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
         |${ivfBuildCtesOn("old")},
         |n_old AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n_old FROM asgf GROUP BY cid),
         |newb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
         |asg_new AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT n.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${cosSql("n.embedding", "c.cemb")} DESC, c.cid DESC) AS rn
         |    FROM newb n CROSS JOIN c2 c)
         |  WHERE rn = 1),
         |n_new AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS n_new FROM asg_new GROUP BY cid)
         |SELECT a.vec_id, a.cid,
         |  CAST(COALESCE(o.n_old, 0) AS BIGINT) AS n_old, w.n_new
         |FROM asg_new a
         |LEFT JOIN n_old o ON o.cid = a.cid
         |JOIN n_new w ON w.cid = a.cid
         |ORDER BY a.vec_id""".stripMargin,
    // SemDeDup replay: the same build chain as x27c, then the
    // within-cluster pair scan (an equi-join on cid — mirroring that the
    // Spark side never goes all-pairs) and the keep-lowest-id removed set
    "x40_semdedup" ->
      s"""WITH $ivfBuildCtes,
         |pairs AS (
         |  SELECT a.cid, a.vec_id AS v1, b.vec_id AS v2,
         |    round(${cosSql("a.embedding", "b.embedding")}, 6) AS sim
         |  FROM asgf a JOIN asgf b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.35)
         |SELECT v2 AS vec_id, cid, max(sim) AS max_sim
         |FROM pairs GROUP BY v2, cid
         |ORDER BY vec_id""".stripMargin,
    // cluster profile replay: final assignment vs final centroids, mean
    // cosine in exact integer micro-units (order-invariant integer sum,
    // truncating integer division — positive operands, so DuckDB's floor
    // `//` and Spark's `div` agree). Every integer stage is CAST to BIGINT
    // explicitly: DuckDB's sum(BIGINT) widens to HUGEINT and `//` follows,
    // and an int128/decimal arrow column would hash-mismatch driver-side
    // even with identical values (round-7 verdict item 4).
    "x40b_cluster_profile" ->
      s"""WITH $ivfBuildCtes,
         |prof AS (
         |  SELECT a.cid, a.vec_id,
         |    round(${cosSql("a.embedding", "c.cemb")}, 6) AS sim
         |  FROM asgf a JOIN c2 c ON a.cid = c.cid)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(CAST(sum(CAST(round(sim * 1000000, 0) AS BIGINT)) AS BIGINT)
         |       // count(*) AS BIGINT) AS avg_sim_micro,
         |  min(vec_id) AS min_vec_id
         |FROM prof GROUP BY cid
         |ORDER BY cid""".stripMargin,
    // prototype-prune replay: the shared build chain, the SAME two-step
    // micro-unit quantization the Spark side ranks on (round to 6 dp,
    // then scale — the x40b spelling; the one-step product rounding
    // flipped ~4 % of rows), zero vectors excluded before the window so
    // NULL ordering never differs between engines
    "x53_prototype_prune" ->
      s"""WITH $ivfBuildCtes,
         |sims AS (
         |  SELECT a.vec_id, a.cid,
         |    CAST(round(round(${cosSql("a.embedding", "c.cemb")}, 6) * 1000000, 0) AS BIGINT) AS sim_micro
         |  FROM asgf a JOIN c2 c ON a.cid = c.cid),
         |r AS (
         |  SELECT vec_id, cid, sim_micro,
         |    CAST(row_number() OVER (PARTITION BY cid
         |      ORDER BY sim_micro, vec_id) AS INTEGER) AS rank
         |  FROM sims WHERE sim_micro IS NOT NULL)
         |SELECT vec_id, cid, sim_micro, rank, (rank <= 10) AS kept
         |FROM r ORDER BY vec_id""".stripMargin,
    // full SRP-LSH replay: hyperplane signs are interpolated constants
    // (srpSignStr); DuckDB recomputes the per-(vec,table,plane) projection
    // as the SAME left-to-right double fold Spark's SrpBuckets uses
    // (list_reduce is sequential; 0.0+x1 == x1 so the seeds agree), packs
    // sign bits into the per-table bucket key, joins same-bucket pairs,
    // and verifies with the exact x26d cosine. Spark's bandkey is
    // xxhash64(table, key) — equal (t,key) always collide, so the
    // candidate SET matches up to a ~2^-64 cross-key collision (the
    // accepted x26-class risk).
    "x26f_embedding_neardup_lsh" -> {
      s"""WITH nz AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE ${dotSql("embedding", "embedding")} > 0),
         |${srpNbitsCte("embeddings")},
         |${srpBucketCtes("nz", "SELECT b FROM nbits")},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |  FROM buckets a JOIN buckets b
         |    ON a.t = b.t AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
         |SELECT v1, v2,
         | round(${dotSql("a.embedding", "b.embedding")} /
         |   (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS sim
         |FROM cand JOIN embeddings a ON a.vec_id = v1
         |          JOIN embeddings b ON b.vec_id = v2
         |WHERE round(${dotSql("a.embedding", "b.embedding")} /
         |   (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})), 6) >= 0.4
         |ORDER BY v1, v2""".stripMargin
    },
    // full IVF replay: the index build is deterministic end-to-end —
    // seeds are the 16 lowest-id vectors, each Lloyd iteration is an
    // argmax-cosine assignment (ties → HIGHER cid, matching Spark's
    // max(struct(csim, cid))) plus the CentroidAggregator's integer-space
    // update (round(x·1e6) per element, integer sums, round(mean, 6) →
    // REAL — the x30-established portable spelling) — so DuckDB replays
    // the 2 unrolled iterations, the probe step (top-4 centroids, ties →
    // LOWER cid), and the exact re-rank
    "x27c_ann_ivf" -> {
      s"""WITH $ivfBuildCtes,
         |probes AS (
         |  SELECT q_id, cid FROM (
         |    SELECT q.vec_id AS q_id, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.embedding", "c.cemb")} DESC, c.cid) AS rn
         |    FROM embeddings q CROSS JOIN c2 c WHERE q.vec_id < 20)
         |  WHERE rn <= 4),
         |sims AS (
         |  SELECT p.q_id, a.vec_id AS c_id,
         |    round(${cosSql("qe.embedding", "a.embedding")}, 6) AS sim
         |  FROM probes p
         |  JOIN asgf a ON a.cid = p.cid AND a.vec_id <> p.q_id
         |  JOIN embeddings qe ON qe.vec_id = p.q_id),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
         |  FROM sims)
         |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin
    },
    // same SRP replay, ANN form: candidates = any shared (table, bucket)
    // with the query side (vec_id < 20), exact-cosine re-rank to top-5
    // with the same (sim DESC, c_id) tie-break Spark's row_number uses
    "x27b_ann_lsh" -> {
      s"""WITH ${srpBucketCtes("embeddings")},
         |qb AS (SELECT vec_id, t, bkey FROM buckets WHERE vec_id < 20),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
         |  FROM buckets c JOIN qb q
         |    ON c.t = q.t AND c.bkey = q.bkey AND c.vec_id <> q.vec_id),
         |sims AS (
         |  SELECT q_id, c_id,
         |   round(${dotSql("a.embedding", "b.embedding")} /
         |     (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS sim
         |  FROM cand JOIN embeddings a ON a.vec_id = q_id
         |            JOIN embeddings b ON b.vec_id = c_id),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
         |  FROM sims)
         |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin
    },
    "x26d_embedding_neardup" ->
      s"""SELECT a.vec_id AS v1, b.vec_id AS v2,
         | round(${dotSql("a.embedding", "b.embedding")} /
         |   (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${dotSql("a.embedding", "a.embedding")} > 0
         |  AND ${dotSql("b.embedding", "b.embedding")} > 0
         |  AND round(${dotSql("a.embedding", "b.embedding")} /
         |   (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})), 6) >= 0.4
         |ORDER BY v1, v2""".stripMargin,
    // MMR replay: the relevance pool CTE, then the 8 greedy rounds
    // unrolled — each round the argmax of 70·rel − 30·maxsim (score
    // DESC, c_id) over the survivors, then maxsim folds in the
    // just-selected row's similarity. Integer micro sims (the x27e
    // round(cos·1e6) recipe) make every argmax engine-identical.
    "x82_mmr_diverse" -> {
      val simM = (a: String, b: String) =>
        s"CAST(round(${cosSql(a, b)} * 1000000, 0) AS BIGINT)"
      val rounds = (1 to 8).map { r =>
        val prev = s"m${r - 1}"
        val sel =
          s"""s$r AS (
             |  SELECT c_id, emb, rel, ms, 70 * rel - 30 * ms AS score
             |  FROM $prev ORDER BY score DESC, c_id LIMIT 1)""".stripMargin
        val next = if (r < 8)
          s""",
             |m$r AS (
             |  SELECT m.c_id, m.emb, m.rel,
             |    greatest(m.ms, ${simM("m.emb", "s.emb")}) AS ms
             |  FROM $prev m, s$r s WHERE m.c_id <> s.c_id)""".stripMargin
        else ""
        sel + next
      }.mkString(",\n")
      val unions = (1 to 8).map(r =>
        s"SELECT $r AS rank, c_id, rel AS rel_micro, ms AS maxsim_micro, score AS score_micro FROM s$r")
        .mkString("\nUNION ALL ")
      s"""WITH cand AS (
         |  SELECT c.vec_id AS c_id, c.embedding AS emb,
         |    ${simM("c.embedding", "q.embedding")} AS rel
         |  FROM embeddings c,
         |    (SELECT embedding FROM embeddings WHERE vec_id = 1) q
         |  WHERE c.vec_id <> 1),
         |m0 AS (
         |  SELECT c_id, emb, rel, CAST(0 AS BIGINT) AS ms FROM cand
         |  WHERE rel IS NOT NULL ORDER BY rel DESC, c_id LIMIT 50),
         |$rounds
         |$unions
         |ORDER BY rank""".stripMargin
    },
    // RRF replay: one sims CTE carries BOTH metrics (cosine for ranking
    // A, expanded squared-L2 for ranking B — the identical three-dot
    // IEEE sequence), candidate pools at rank <= 50, integer-micro
    // contributions 10^6 // (60 + rank), fused top-5
    "x97_rrf_fusion" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
         |sims AS (
         |  SELECT q_id, c_id,
         |   round(${dotSql("q_emb", "c_emb")} /
         |     (sqrt(${dotSql("q_emb", "q_emb")}) * sqrt(${dotSql("c_emb", "c_emb")})), 6) AS sim,
         |   round(${dotSql("q_emb", "q_emb")} - 2 * ${dotSql("q_emb", "c_emb")}
         |     + ${dotSql("c_emb", "c_emb")}, 6) AS dist2
         |  FROM c CROSS JOIN q WHERE q_id <> c_id),
         |ra AS (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank
         |  FROM sims WHERE sim IS NOT NULL),
         |rb AS (
         |  SELECT q_id, c_id,
         |   row_number() OVER (PARTITION BY q_id ORDER BY dist2, c_id) AS rank
         |  FROM sims WHERE dist2 IS NOT NULL),
         |u AS (
         |  SELECT q_id, c_id, 1000000 // (60 + rank) AS contrib
         |  FROM ra WHERE rank <= 50
         |  UNION ALL
         |  SELECT q_id, c_id, 1000000 // (60 + rank) AS contrib
         |  FROM rb WHERE rank <= 50),
         |f AS (SELECT q_id, c_id, CAST(sum(contrib) AS BIGINT) AS rrf_micro
         |  FROM u GROUP BY 1, 2),
         |r AS (SELECT q_id, c_id, rrf_micro,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf_micro DESC, c_id) AS INTEGER) AS rank FROM f)
         |SELECT q_id, c_id, rrf_micro, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // k-center replay: the MMR unrolling recipe for the Gonzalez greedy —
    // seed s1 = lowest pool id, then 7 rounds of (max md, min c_id)
    // argmax with least() folds; the same IEEE three-dot + micro-round
    // sequence as the engine makes every argmax engine-identical
    "x118_kcenter_coreset" -> {
      val dM = (a: String, b: String) =>
        s"CAST(round((${dotSql(a, a)} - 2 * ${dotSql(a, b)} + ${dotSql(b, b)}) * 1000000, 0) AS BIGINT)"
      val rounds = (2 to 8).map { r =>
        val prev = s"m${r - 1}"
        val sel =
          s"""s$r AS (
             |  SELECT c_id, emb, md FROM $prev
             |  ORDER BY md DESC, c_id LIMIT 1)""".stripMargin
        val next = if (r < 8)
          s""",
             |m$r AS (
             |  SELECT m.c_id, m.emb, least(m.md, ${dM("m.emb", "s.emb")}) AS md
             |  FROM $prev m, s$r s WHERE m.c_id <> s.c_id)""".stripMargin
        else ""
        sel + next
      }.mkString(",\n")
      val unions = (2 to 8).map(r =>
        s"SELECT $r AS rank, c_id, md AS mindist_micro FROM s$r")
        .mkString("\nUNION ALL ")
      s"""WITH pool AS (
         |  SELECT vec_id AS c_id, embedding AS emb FROM embeddings
         |  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 64),
         |s1 AS (SELECT c_id, emb FROM pool ORDER BY c_id LIMIT 1),
         |m1 AS (
         |  SELECT p.c_id, p.emb, ${dM("p.emb", "s.emb")} AS md
         |  FROM pool p, s1 s WHERE p.c_id <> s.c_id),
         |$rounds
         |SELECT 1 AS rank, c_id, CAST(NULL AS BIGINT) AS mindist_micro FROM s1
         |UNION ALL $unions
         |ORDER BY rank""".stripMargin
    },
    // matryoshka replay: identical micro quantization, exact integer
    // squared norms of the full and prefix slices, // ≡ div on the
    // non-negative operands, 1-row mean joined onto every row
    "x130_matryoshka" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, v ->
        |      CAST(round(CAST(v AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS mv
        |  FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |n AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(mv, x -> x * x)) AS BIGINT)
        |      AS full2,
        |    CAST(list_sum(list_transform(mv[1:32], x -> x * x)) AS BIGINT)
        |      AS prefix2
        |  FROM q),
        |r AS (
        |  SELECT vec_id, full2, prefix2,
        |    CASE WHEN full2 = 0 THEN NULL
        |         ELSE CAST((1000000 * prefix2) // full2 AS BIGINT) END
        |    AS retained_micros
        |  FROM n),
        |m AS (SELECT CAST(sum(retained_micros) // count(retained_micros)
        |      AS BIGINT) AS mean_retained_micros FROM r)
        |SELECT vec_id, full2, prefix2, retained_micros, mean_retained_micros
        |FROM r, m ORDER BY vec_id""".stripMargin,
    // centroid-drift replay: per-component micro quantization, exact
    // integer sums and truncated means, then the same IEEE double
    // expression for cos²·10⁶ over exact integer inputs
    "x113_centroid_drift" ->
      s"""WITH q AS (
         |  SELECT label, vec_id % 2 AS half, embedding AS e FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |cnt AS (SELECT label, half, count(*) AS n FROM q GROUP BY 1, 2),
         |ex AS (SELECT label, half, unnest(range(1, 65)) AS dim, e FROM q),
         |sums AS (
         |  SELECT label, half, dim,
         |    sum(CAST(round(CAST(e[dim] AS DOUBLE) * 1000000.0, 0) AS BIGINT))
         |      AS sv
         |  FROM ex GROUP BY 1, 2, 3),
         |cent AS (
         |  SELECT s.label, s.half, s.dim, CAST(sv // n AS BIGINT) AS c, n
         |  FROM sums s JOIN cnt USING (label, half)),
         |j AS (
         |  SELECT a.label, a.n AS n_a, b.n AS n_b, a.c AS ca, b.c AS cb
         |  FROM cent a JOIN cent b
         |    ON a.label = b.label AND a.dim = b.dim
         |      AND a.half = 0 AND b.half = 1),
         |ag AS (
         |  SELECT label,
         |    CAST(any_value(n_a) AS BIGINT) AS n_a,
         |    CAST(any_value(n_b) AS BIGINT) AS n_b,
         |    CAST(sum(ca * cb) AS BIGINT) AS dot,
         |    CAST(sum(ca * ca) AS BIGINT) AS na2,
         |    CAST(sum(cb * cb) AS BIGINT) AS nb2
         |  FROM j GROUP BY 1)
         |SELECT label, n_a, n_b, dot, na2, nb2,
         |  CASE WHEN dot > 0 THEN 1 WHEN dot < 0 THEN -1 ELSE 0 END
         |    AS dot_sign,
         |  CASE WHEN na2 = 0 OR nb2 = 0 THEN NULL
         |       ELSE CAST(floor(1000000.0 * CAST(dot AS DOUBLE)
         |         * CAST(dot AS DOUBLE) / (CAST(na2 AS DOUBLE)
         |         * CAST(nb2 AS DOUBLE))) AS BIGINT) END AS cos2_micros
         |FROM ag ORDER BY label""".stripMargin,
    "x27_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
         |sims AS (
         |  SELECT q_id, c_id,
         |   round(${dotSql("q_emb", "c_emb")} /
         |     (sqrt(${dotSql("q_emb", "q_emb")}) * sqrt(${dotSql("c_emb", "c_emb")})), 6) AS sim
         |  FROM c CROSS JOIN q WHERE q_id <> c_id),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
         |  FROM sims)
         |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // x27's replay with the positive band excised BEFORE ranking: the
    // strict sim < 0.4 comparison also discards NULL/NaN sims (zero
    // vectors) in both engines
    "x73_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
         |sims AS (
         |  SELECT q_id, c_id,
         |   round(${dotSql("q_emb", "c_emb")} /
         |     (sqrt(${dotSql("q_emb", "q_emb")}) * sqrt(${dotSql("c_emb", "c_emb")})), 6) AS sim
         |  FROM c CROSS JOIN q WHERE q_id <> c_id),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
         |  FROM sims WHERE sim < 0.4)
         |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    // integer-exact mean spelling (see meanMicroSql): the fixture's label
    // means can land on .5-micro boundaries too
    "x30_centroid_agg" ->
      s"""WITH m AS (
         |  SELECT label,
         |    sum(CAST(round(CAST(embedding[1] AS DOUBLE)*1000000, 0) AS BIGINT)) AS s1,
         |    sum(CAST(round(CAST(embedding[2] AS DOUBLE)*1000000, 0) AS BIGINT)) AS s2,
         |    sum(CAST(round(CAST(embedding[3] AS DOUBLE)*1000000, 0) AS BIGINT)) AS s3,
         |    sum(CAST(round(CAST(embedding[4] AS DOUBLE)*1000000, 0) AS BIGINT)) AS s4,
         |    count(*) AS n
         |  FROM embeddings GROUP BY label)
         |SELECT label,
         | ${meanMicroSql("s1", "n")} / 1000000.0 AS c1,
         | ${meanMicroSql("s2", "n")} / 1000000.0 AS c2,
         | ${meanMicroSql("s3", "n")} / 1000000.0 AS c3,
         | ${meanMicroSql("s4", "n")} / 1000000.0 AS c4
         |FROM m ORDER BY label""".stripMargin,
    "x30b_scalar_udf" ->
      """SELECT doc_id, CAST(length(text) * 2 + 1 AS INTEGER) AS udf_val
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the packed top-k is exactly expressible: DuckDB quantizes with the
    // same half-up rule and ranks on the identical integer-ratio cosine
    "x27d_ann_packed" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
         |  FROM embeddings),
         |qv AS (
         |  SELECT vec_id,
         |   list_transform(embedding,
         |     x -> CAST(floor(CAST(x AS DOUBLE) / (absmax / 127.0) + 0.5) AS BIGINT)) AS q
         |  FROM b WHERE absmax > 0),
         |n AS (
         |  SELECT vec_id, q,
         |   sqrt(CAST(list_sum(list_transform(q, v -> v * v)) AS DOUBLE)) AS nrm
         |  FROM qv),
         |sims AS (
         |  SELECT a.vec_id AS q_id, c.vec_id AS c_id,
         |   round(CAST(list_sum(list_transform(range(1, 65),
         |       i -> a.q[i] * c.q[i])) AS DOUBLE) / (a.nrm * c.nrm), 6) AS sim
         |  FROM n a JOIN n c ON a.vec_id < 20 AND a.vec_id <> c.vec_id
         |  WHERE a.nrm > 0 AND c.nrm > 0),
         |ranked AS (
         |  SELECT q_id, c_id, sim,
         |   CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS INTEGER) AS rank
         |  FROM sims)
         |SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,
    "x30d_quantize_packed" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, embedding, absmax / 127.0 AS scale
        |  FROM b WHERE absmax > 0)
        |SELECT vec_id,
        | round(scale, 6) AS scale_r,
        | upper(list_aggregate(list_transform(embedding,
        |   x -> lpad(to_hex(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT) & 255), 2, '0')),
        |   'string_agg', '')) AS qhex
        |FROM sc ORDER BY vec_id""".stripMargin,
    "x30c_quantize_int8" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, embedding, absmax / 127.0 AS scale
        |  FROM b WHERE absmax > 0)
        |SELECT vec_id,
        | round(scale, 6) AS scale_r,
        | CAST(floor(CAST(embedding[1] AS DOUBLE) / scale + 0.5) AS INTEGER) AS q1,
        | CAST(floor(CAST(embedding[2] AS DOUBLE) / scale + 0.5) AS INTEGER) AS q2,
        | CAST(floor(CAST(embedding[3] AS DOUBLE) / scale + 0.5) AS INTEGER) AS q3,
        | CAST(floor(CAST(embedding[4] AS DOUBLE) / scale + 0.5) AS INTEGER) AS q4,
        | CAST(len(list_filter(embedding,
        |   x -> abs(floor(CAST(x AS DOUBLE) / scale + 0.5)) >= 127)) AS INTEGER) AS n_sat,
        | round(list_sum(list_transform(embedding,
        |   x -> (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)
        |      * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)))
        |   / 64.0, 9) AS mse
        |FROM sc ORDER BY vec_id""".stripMargin)
}
