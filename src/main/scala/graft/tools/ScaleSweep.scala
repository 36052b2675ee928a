package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic 10× scaling sweep: the plan-shape claims ("this survives a
  * 100× scale-up") checked against MEASURED growth, not just `.explain`.
  * The sf0.1 fixture is replicated 10× by deterministic id-salting and
  * the heaviest queries are timed at 1× vs 10×; a near-linear ratio
  * (≈10, modulo fixed per-query overhead) says the operator's cost is
  * proportional to data; a super-linear ratio exposes a hidden
  * quadratic or a broadcast that stopped fitting.
  *
  * Replication preserves the statistical shape instead of stacking
  * identical copies (which would make every dedup relation quadratic in
  * the replica count BY DATA, not by plan):
  *  - ids shift by replica·10⁸, so join integrity holds within a
  *    replica and keys never collide across replicas;
  *  - document TEXT is token-salted per replica (`tok~r`), so replicas
  *    are not near-duplicates of each other — shingle/minhash/tf-idf
  *    candidate relations stay within-replica and scale linearly, the
  *    way 10× of real crawl data behaves;
  *  - embeddings are component-ROTATED per replica — norms and the
  *    pairwise-similarity distribution survive, vectors differ;
  *  - fixed-probe queries (vec_id < 20, doc_id < 50) keep their probe
  *    set constant while the corpus grows — the realistic shape for
  *    eval-decontamination and ANN serving;
  *  - region/nation stay fixed (dimensions don't grow with SF in TPC-H
  *    either).
  * BOTH sides (1× and 10×) are materialized through this same writer,
  * so layout/encoding differences never pollute the ratio.
  *
  * Usage: sbt "runMain graft.tools.ScaleSweep" → scaling_out.json
  * (repo cwd), one JSON line with per-query {t1, t1_warm, t10,
  * t10_warm, ratio} (ratio is COLD/COLD — see timeQuery), a
  * queries_100x section for the Top100x set, and the pinned-bits
  * configuration contrast.
  */
object ScaleSweep {

  private val IdStride = 100000000L

  /** The heaviest BENCH_LOCAL queries (top of the r9 sweep) plus the new
    * index builds — every LLM-pipeline family with a nontrivial shuffle
    * shape is represented. */
  val Heavy: Seq[String] = Seq(
    "x26f_embedding_neardup_lsh", "x33c_split_decontam", "x45_ivf_append",
    "x27e_ann_pq", "x26h_tfidf_neardup", "x27f_ann_ivfpq",
    "x27h_ann_ivfpq_residual", "x39c_mix_temperature", "q15_setops",
    "q03b_large_join", "x28j_unigram_lm", "x27_cosine_topk",
    "x32c_pack_bins", "x33b_contamination_bloom", "x28d_tfidf_top_term",
    "q22_sessionize", "x59_corpus_diff", "x60_ngram_novelty",
    "x62_curation_report",
    // round-11 additions with nontrivial shuffle/iteration shapes
    "x67_winnow_pairs", "x68_contam_spans", "x70_interp_lm",
    "x72_dup_pagerank", "x73_hard_negatives",
    "x78_containment", "x79_pmi_collocations", "x82_mmr_diverse",
    "x85_zipf_slope", "x86_simhash_pairs", "x90_ks_drift",
    "x91_skipgram_pmi", "x76_bm25_topk",
    "x92_jaccard_prefix", "x95_ngram_saturation", "x104_source_jaccard",
    "x108_image_phash", "x113_centroid_drift",
    // round-11 fourth-session additions: the 40× bootstrap explode, the
    // distinct-value cumulative passes, span excision, dup mass
    "x124_bootstrap_ci", "x122_spearman", "x121_auc_exact",
    "x133_span_excision", "x135_dup_mass",
    // round-12 additions: the as-of union-sort window, the two portable
    // sketches (sha-heavy dedup + k-mins / histogram buckets), the SNM
    // recall audit's pair join, and the order-statistic core
    "x138_asof_attribution", "x139_loghist_quantiles",
    "x142_kmv_distinct", "x137b_snm_recall_audit",
    "x141_winsorized_stats", "x143_ndcg_at_k",
    // round-13 additions: the salted as-of (union + bucketed windows),
    // the new ratio/risk/market-basket aggregations, the KMV overlap's
    // two pre-cut scans, the blocked Damerau–Levenshtein join (block
    // occupancy is the quantity to watch — same caveat as SNM), and
    // the regex-heavy PII scan
    "x138b_asof_salted", "x145_ess_weights", "x146_brier_decomp",
    "x147_kaplan_meier", "x148_freq_pairs", "x149_kmv_overlap",
    "x150_typo_neardup", "x151_pii_scan", "x139c_loghist_zeros",
    "x152_dup_graph_stats", "x153_info_gain", "x154_kmv_rolling",
    "x155_psi_drift", "x156_auc_by_slice", "x157_weighted_quantiles",
    "x158_cohen_kappa",
    // round-14 additions: the distinct-value rank-sum pass, the
    // regex-chain URL dedup, the per-user grouped fold assignment,
    // the full-tokenization JSD, the per-slice BH scan, and the
    // survival-time log-rank windows
    "x159_mann_whitney", "x161_bh_fdr", "x163_log_rank",
    "x164_url_canon", "x166_group_kfold", "x168_js_divergence",
    "x169_quantile_norm", "x171_cvm_drift", "x172_kendall_tau",
    // the blocked JW join shares x150's block-occupancy caveat; CUPED
    // and Cochran's Q are whole-relation aggregation passes
    "x174_jw_neardup", "x175_cochran_q", "x178_cuped",
    // rank machinery at distinct-value grain, the value-pair-cell HL
    // median, and the full-tokenization BLEU clip joins
    "x179_kruskal_wallis", "x180_hodges_lehmann", "x182_bleu_precision",
    // round-15 additions: the distinct-value median/χ² passes, the
    // group×value EMD grid with its pair equi-join, and the forced-
    // oversized window-recall audit (fixed fixture — expect flat)
    "x184_moods_median", "x186_emd_pairs", "x187_cliffs_delta",
    "x150b_window_recall",
    // round-16: the two-pass recall audit (same fixed fixture — expect
    // flat like x150b), the per-user transition window feeding Bowker,
    // and the two-scan broadcast-bounds agreement pass
    "x150c_twopass_recall", "x210_bowker", "x212_bland_altman",
    // the group×value JT grid, the vocabulary-grain keyness chain,
    // and the per-user thirds pivot
    "x215_jonckheere", "x216_monroe_logodds", "x218_page_trend",
    // the distinct-score ROC scan and the slice-grain triple correction
    "x192_youden_j", "x194_holm_by",
    // the 16×-explode silhouette scan, the 5-round power iteration on
    // the pair cache, and the rows×40 permutation explode
    "x195_silhouette", "x196_eigen_centrality", "x198_perm_test",
    // the stratum-variance pass and the observed-cell G scan
    "x199_neyman", "x203_gtest",
    // the pooled-midrank pair tests and the per-slice bound scan
    "x204_dunn", "x205_bernstein",
    // the double-ranking fusion and the three-signal melt
    "x206_borda", "x207_kendall_w", "x208_qq_shift",
    // round-16 closers: the group-grain Theil decomposition, the
    // value-grain Hill diversity and Chao-Shen entropy scans, the
    // group-vs-rest Cohen's h pass, the leave-one-group-out jackknife,
    // and the two-group TOST aggregation
    "x209_theil", "x211_hill_diversity", "x217_cohens_h",
    "x219_jackknife", "x220_tost", "x221_chao_shen")

  /** Write the replicated fixture for `reps` replicas (1 = a re-encoded
    * copy of the base, the fair 1× baseline). */
  def generate(spark: SparkSession, base: String, out: String,
      reps: Int): Unit = {
    require(reps >= 1 && reps <= 128,
      s"replica transforms (64 rotations x 2 signs) support at most 128, got $reps")
    val r = spark.range(reps).select(col("id").as("__r"))
    def rep(name: String)(f: DataFrame => DataFrame): Unit = {
      val df = graft.Tables.t(spark, base, name)
      f(df.crossJoin(broadcast(r))).drop("__r")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    def shifted(c: String) = (col(c) + col("__r") * IdStride).as(c)

    rep("documents")(df => df.select(
      shifted("doc_id"),
      when(col("__r") === 0, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("~"), col("__r"))))).as("text"),
      col("lang"), col("source"), col("n_chars"), col("__r")))
    rep("embeddings")(df => {
      // component ROTATION by __r (norms and the pairwise-sim
      // distribution survive, vectors differ) only yields 64 distinct
      // transforms at 64 dims; replicas 64..127 additionally NEGATE
      // (cos(-a,-b) = cos(a,b), so within-replica sims still survive,
      // while cross-replica cosines vs the unnegated twin flip sign —
      // nothing becomes a near-dup of another replica)
      val rot = col("__r") % 64
      val rotated = concat(slice(col("embedding"), rot + 1, lit(64) - rot),
        slice(col("embedding"), lit(1), rot))
      df.select(
        shifted("vec_id"),
        when(col("__r") < 64, rotated)
          .otherwise(transform(rotated, x => -x)).as("embedding"),
        col("label"), col("__r"))
    })
    rep("events")(df => df.select(
      shifted("event_id"), col("ts"), shifted("user_id"),
      col("event_type"), col("value"), col("props"), col("__r")))
    rep("lineitem")(df => df.select(
      shifted("l_orderkey"), shifted("l_partkey"), shifted("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"), col("__r")))
    rep("orders")(df => df.select(
      shifted("o_orderkey"), shifted("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
      col("__r")))
    rep("customer")(df => df.select(
      shifted("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"), col("__r")))
    rep("supplier")(df => df.select(
      shifted("s_suppkey"), col("s_name"), col("s_nationkey"),
      col("s_acctbal"), col("__r")))
    rep("part")(df => df.select(
      shifted("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice"), col("__r")))
    Seq("region", "nation").foreach { name =>
      graft.Tables.t(spark, base, name)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
  }

  /** One timed execution of a registered query. COLD timings evict the
    * per-app caches first, so every cold run pays the query's full
    * compute — several Heavy queries (x62, x33c) persist shared or even
    * whole-result relations per app/dir, and a min-of-two without
    * eviction times a tiny cached scan on the second run, which can
    * never expose a superlinear regression (the tool's whole purpose).
    * Cold is min-of-two FULLY-EVICTED runs (noise floor without cache
    * reuse); warm is one further run with the caches left hot — the
    * steady-state number, reported but never used for the ratio flag. */
  private def timeQuery(spark: SparkSession, name: String,
      dir: String): (Double, Double) = {
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // scrub, not bare evictAll (r16 ADVICE): eviction alone leaves the
    // evicted blocks' garbage to be collected DURING the next timed run
    // (the r16 litter-probe mechanism — x167 86 s vs 1.6 s), which at higher
    // SF distorts exactly the ratios this tool exists to measure
    def cold(): Double = { BenchSession.scrub(); once() }
    val c = math.min(cold(), cold())
    (c, once())
  }

  /** Failure-tolerant wrapper: one broken query must not kill an
    * hour-long sweep run — it lands in the artifact's `errors` section
    * (visible, never silently dropped) and the rest of the sweep
    * completes. */
  private def timeQuerySafe(spark: SparkSession, name: String,
      dir: String): Either[String, (Double, Double)] =
    try Right(timeQuery(spark, name, dir))
    catch { case e: Throwable =>
      System.err.println(s"[sweep] $name failed on $dir: ${e.getMessage}")
      Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
    }

  /** The heaviest sweep queries get an additional 100× point: 10×
    * caught three hidden quadratics in round 10, but data-dependent
    * constants (bucket occupancy, df caps, broadcast thresholds) can
    * hide below 10× and only bend the curve later. On 32 saturated
    * cores the linear-per-core expectation at 100× data is a ratio of
    * ~100; the flag threshold is 1.5× that. Round 12 widened the list
    * from the r10 top-5 to also cover the r11 sweep's near-flag tail
    * (x78 11.2×, x91 8.9×, x70 8.2×, x72 8.0×, x67 3.6×, x76 1.5× cold
    * at 10× in SCALING_r11) — none had a 100× point before, and 10×
    * provably hides data-dependent constants. */
  val Top100x: Seq[String] = Seq(
    "x26f_embedding_neardup_lsh", "x62_curation_report",
    "x33c_split_decontam", "x28d_tfidf_top_term", "q03b_large_join",
    "x78_containment", "x91_skipgram_pmi", "x70_interp_lm",
    "x72_dup_pagerank", "x67_winnow_pairs", "x76_bm25_topk",
    // round-13 additions: x137b rejoins IN-SWEEP (its r12 OOM was
    // accumulated section state, fixed by drainState below — the r12
    // standalone probe measured 44× cold / 0.6 s warm), plus the r12
    // sweep's warm≈cold heavies x139 (6.7×), x142 (6.8×), x95 (7.0×)
    "x137b_snm_recall_audit", "x139_loghist_quantiles",
    "x142_kmv_distinct", "x95_ngram_saturation",
    // round-13: the blocked-DL join's per-block pair count grows with
    // block occupancy (the SNM caveat) — 10× can hide it, 100× can't
    "x150_typo_neardup",
    // round-14: the full-tokenization JSD (token-grain full-outer
    // join) and the regex-chain URL dedup — both all-rows row-local
    // passes whose constants only show at 100×
    "x168_js_divergence", "x164_url_canon",
    // round-15: the blocked-JW join shares x150's oversized-block
    // banding — its 100× point evidences the same r14 fix in-sweep
    "x174_jw_neardup")
  private val Flag10x = 12.0
  private val Flag100x = 150.0

  /** Drain accumulated executor-side state between heavy queries: evict
    * every shared per-app cache, then GC-and-poll until the
    * ContextCleaner has released all cached RDD blocks. localCheckpoint
    * blocks (the iterative ops checkpoint per round) are freed only
    * AFTER their RDD becomes unreachable and the async cleaner runs —
    * without this, the 100× section accumulates every prior query's
    * checkpoint blocks on-heap, which is exactly what OOMed the r12
    * sweep at its 12th 100× query while the same query ran fine alone.
    * The same persist-without-unpersist pattern would bite any
    * long-running multi-phase job; this is the library-shaped fix, not
    * a harness hack. */
  def drainState(spark: SparkSession, maxWaitMs: Long = 15000L): Unit = {
    graft.ops.PerAppCache.evictAll()
    val sc = spark.sparkContext
    val deadline = System.currentTimeMillis() + maxWaitMs
    while (sc.getRDDStorageInfo.nonEmpty &&
        System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(250L)
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val spark = BenchSession.open()
    val d1 = s"$out/x1"; val d10 = s"$out/x10"; val d100 = s"$out/x100"
    val t0g = System.nanoTime()
    // the generator is deterministic in (base, reps), so a completed dir
    // is reusable across sweep runs; nation.parquet is written LAST and
    // serves as the completion sentinel
    def ensure(dir: String, reps: Int): Unit =
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$dir/nation.parquet")))
        generate(spark, base, dir, reps)
    ensure(d1, 1); ensure(d10, 10); ensure(d100, 100)
    val genSec = (System.nanoTime() - t0g) / 1e9

    BenchSession.warmTables(spark, d1)
    BenchSession.warmEngine(spark, d1)
    // JIT/codegen warm-up on the 1× side so neither sweep pays it
    timeQuery(spark, Heavy.head, d1)

    val tried = Heavy.map(name => (name, timeQuerySafe(spark, name, d1)))
    val errs1 = tried.collect { case (n, Left(m)) => (n, s"1x: $m") }
    val rows = tried.collect { case (n, Right(t)) => (n, t) }
    graft.ops.PerAppCache.evictAll() // drop the 1× cached relations
    BenchSession.warmTables(spark, d10)
    val tried10 = rows.map { case (name, (c1, w1)) =>
      (name, c1, w1, timeQuerySafe(spark, name, d10))
    }
    val errs10 = tried10.collect { case (n, _, _, Left(m)) => (n, s"10x: $m") }
    val full = tried10.collect { case (name, c1, w1, Right((c10, w10))) =>
      (name, c1, w1, c10, w10, c10 / c1)
    }
    graft.ops.PerAppCache.evictAll()

    // 100× section for the heaviest + r11's near-flag tail:
    // cold-vs-cold against the same 1× cold baseline as the 10× table.
    // drainState between queries: each 100× query starts with an empty
    // block store, so the section scales past r12's 11-query OOM wall
    // and x137b runs in-sweep instead of as a standalone carve-out
    drainState(spark)
    BenchSession.warmTables(spark, d100)
    val t1ByName = rows.toMap
    val tried100 = Top100x.filter(t1ByName.contains).map { name =>
      drainState(spark)
      (name, timeQuerySafe(spark, name, d100))
    }
    val errs100 = tried100.collect { case (n, Left(m)) => (n, s"100x: $m") }
    val top = tried100.collect { case (name, Right((c100, w100))) =>
      val (c1, _) = t1ByName(name)
      (name, c1, c100, w100, c100 / c1)
    }
    graft.ops.PerAppCache.evictAll()

    // at-scale CONFIGURATION contrast: the registered x26f now derives
    // its SRP bits from the corpus count (srpBitsFor — constant expected
    // bucket occupancy, linear candidates); keep the old pinned-4-bit
    // form measured alongside it so the artifact still shows WHY (fixed
    // bits: occupancy ∝ n, candidate pairs ∝ n²/2^bits — 173× at 10× in
    // SCALING_r10). One timed run each, not min-of-two: the contrast is
    // documentation, not a regression gate.
    def onceThunk(f: => Long): Double = {
      graft.ops.PerAppCache.evictAll()
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def x26fFixed(dir: String): Long =
      graft.api.TrainingData.embeddingNearDupPairs(
        graft.Tables.t(spark, dir, "embeddings"),
        "vec_id", "embedding", 0.4, tables = 8, bits = 4).count()
    val f1 = onceThunk(x26fFixed(d1))
    val f10 = onceThunk(x26fFixed(d10))
    val extrasJson =
      s""""x26f_fixed_bits_4":{"t1":${math.round(f1 * 1000) / 1000.0},"t10":${math.round(f10 * 1000) / 1000.0},"ratio":${math.round(f10 / f1 * 1000) / 1000.0}}"""
    graft.ops.PerAppCache.evictAll()

    // cap-bind profile for the blocked string-metric family (x150/
    // x174 share the fixture): the share of blocks past the 256 cap at
    // each scale, so the x150 10x flag's cap-transition explanation
    // ("blocks grow quadratically until the cap binds, then the
    // windowed fallback flattens the curve") is adjudicable from the
    // artifact — a high 100x bind fraction + sub-flag 100x ratio IS
    // the explanation, machine-readable
    val capBind = Seq(("1x", d1), ("10x", d10), ("100x", d100))
      .map { case (label, dir) =>
        val row = graft.ops.DedupOps.x150CapBindProfile(spark, dir)
          .collect().head
        s""""$label":{"n_blocks":${row.getLong(0)},"n_capped":${row.getLong(1)},"bind_fraction_micros":${row.getLong(2)}}"""
      }.mkString("{", ",", "}")

    def r3(v: Double) = math.round(v * 1000) / 1000.0
    val qjson = full.map { case (n, c1, w1, c10, w10, ratio) =>
      s""""$n":{"t1":${r3(c1)},"t1_warm":${r3(w1)},"t10":${r3(c10)},"t10_warm":${r3(w10)},"ratio":${r3(ratio)}}"""
    }.mkString("{", ",", "}")
    val topJson = top.map { case (n, c1, c100, w100, ratio) =>
      s""""$n":{"t1":${r3(c1)},"t100":${r3(c100)},"t100_warm":${r3(w100)},"ratio":${r3(ratio)}}"""
    }.mkString("{", ",", "}")
    val flagged = full.collect { case (n, _, _, _, _, r) if r > Flag10x => n }
    val flagged100 = top.collect { case (n, _, _, _, r) if r > Flag100x => n }
    def jarr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\n\\r\\t]", " ") + "\""
    val errsJson = (errs1 ++ errs10 ++ errs100)
      .map { case (n, m) => s"${q(n)}: ${q(m)}" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"scaling_10x","base":"$base","replicas":10,"gen_seconds":${r3(genSec)},"n_queries":${full.size},"flagged_superlinear":${jarr(flagged)},"queries":$qjson,"queries_100x":$topJson,"flagged_superlinear_100x":${jarr(flagged100)},"cap_bind_x150_x174":$capBind,"errors":$errsJson,"config_variants":{$extrasJson}}"""
    println(line)
    BenchSession.writeArtifact("scaling_out.json", line)
    spark.stop()
  }
}
