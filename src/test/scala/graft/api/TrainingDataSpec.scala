package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Drives the parametric library surface on hand-built DataFrames (NOT the
  * fixture tables) — proving the operators work on any corpus with an
  * id/text or id/embedding column, which is the point of the facade. */
class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (10L, "the cat sat on the mat"),
    (11L, "the cat sat on the mat"), // exact dup of 10
    (12L, "the cat sat on the red mat today ok"), // near dup of 10/11
    (13L, "completely different words entirely here now"),
    (14L, "")).toDF("id", "body")

  // the portable 32-bit sha prefix, in plain Scala — the model twin of
  // DedupOps.sha32 for the winnowing/span model checks below
  private def sha32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  private def winnowModel(toks: Seq[String], k: Int, w: Int): Set[(Long, Long)] =
    if (toks.size < k) Set.empty
    else {
      val kh = (0 to toks.size - k).map(i => sha32(toks.slice(i, i + k).mkString(" ")))
      val nwin = if (kh.size >= w) kh.size - w + 1 else 1
      (1 to nwin).map { j =>
        val win = kh.slice(j - 1, math.min(j - 1 + w, kh.size))
        // rightmost min: later index wins ties
        val idx = win.zipWithIndex.minBy { case (h, i) => (h, -i) }._2
        ((j + idx).toLong, kh(j - 1 + idx))
      }.toSet
    }

  test("winnowingFingerprints match the rightmost-min Seq model") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),           // exact dup of 1
      (3L, "x y z a b c d e f q r s"),       // shares the run a..f
      (4L, "one two three"),                 // exactly k tokens -> 1 kgram
      (5L, "short doc"),                     // < k tokens -> no fingerprints
      (6L, "w w w w w w w w")                // all-same: one kgram value
    ).toDF("id", "body")
    val got = TrainingData.winnowingFingerprints(docs, "id", "body", k = 3, window = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    val texts = Map(1L -> "a b c d e f g h i j", 2L -> "a b c d e f g h i j",
      3L -> "x y z a b c d e f q r s", 4L -> "one two three",
      5L -> "short doc", 6L -> "w w w w w w w w")
    texts.foreach { case (id, t) =>
      val model = winnowModel(t.split(" ").toSeq, 3, 4)
      assert(got.getOrElse(id, Set.empty) == model, s"doc $id")
    }
    // density: selected positions are a subset of kgram positions, and
    // every window of w kgrams contains at least one selected position
    got.foreach { case (id, fps) =>
      val m = texts(id).split(" ").length - 2
      val ps = fps.map(_._1)
      assert(ps.forall(p => p >= 1 && p <= m), s"doc $id positions")
      if (m >= 4) (1 to m - 3).foreach { j =>
        assert(ps.exists(p => p >= j && p <= j + 3), s"doc $id window $j uncovered")
      }
    }
  }

  test("winnowingPairs catch every guaranteed-length shared run; exact dups pair") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "p q r a b c d e f s t u"), // shares a 6-token run (>= w+k-1) with 1/2
      (4L, "totally unrelated content here present")
    ).toDF("id", "body")
    val pairs = TrainingData.winnowingPairs(docs, "id", "body", k = 3, window = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // exact dups share every fingerprint
    assert(pairs.contains((1L, 2L)))
    // the winnowing guarantee: any shared run of >= window + k - 1 = 6
    // tokens is caught by at least one shared fingerprint
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // symmetric evidence: the dup pair shares at least as many values
    // as either cross pair
    assert(pairs((1L, 2L)) >= pairs((1L, 3L)))
  }

  test("contaminationSpans: maximal runs with correct offsets, probe side broadcast") {
    val corpusDf = Seq(
      // tokens 1..14; probes cover kgrams at positions 3,4,5 and 10
      (100L, "w1 w2 p1 p2 p3 p4 p5 w3 w4 w5 q1 q2 q3 w6"),
      (101L, "no overlap at all in this document")
    ).toDF("id", "body")
    val probesDf = Seq(
      (1L, "p1 p2 p3 p4 p5"), // kgrams: p1p2p3 p2p3p4 p3p4p5 -> doc pos 3,4,5
      (2L, "q1 q2 q3")        // one kgram -> doc pos 11
    ).toDF("id", "body")
    val out = TrainingData.contaminationSpans(corpusDf, probesDf, "id", "body", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(out == Set(
      (100L, 1L, 3L, 5L, 3L, 5L),   // one maximal run of 3 consecutive kgrams
      (100L, 2L, 11L, 11L, 1L, 3L)  // a single-kgram span
    ), out)
  }

  test("interpolatedBigramLm matches a Seq model and orders fluency sensibly") {
    val docs = Seq(
      (1L, "a b a b a b"),   // high-probability bigrams
      (2L, "a b c d e"),     // each bigram once
      (3L, "z")              // no bigrams -> absent
    ).toDF("id", "body")
    val got = TrainingData.interpolatedBigramLm(docs, "id", "body", lambda = 0.75)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // Seq model with the same quantization
    val toks = Map(1L -> "a b a b a b", 2L -> "a b c d e", 3L -> "z")
      .map { case (id, t) => id -> t.split(" ").toSeq }
    val uni = toks.values.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val n = uni.values.sum
    val bigrams = toks.values.flatMap(ts => ts.zip(ts.tail)).toSeq
    val c12 = bigrams.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    def L(w1: String, w2: String): Long =
      math.round(-math.log(0.75 * (c12((w1, w2)).toDouble / uni(w1))
        + 0.25 * (uni(w2).toDouble / n)) * 1e6)
    toks.foreach { case (id, ts) =>
      val bg = ts.zip(ts.tail)
      if (bg.isEmpty) assert(!got.contains(id))
      else {
        val (nb, avg) = got(id)
        assert(nb == bg.size)
        val exp = BigDecimal(bg.map { case (w1, w2) => L(w1, w2) }.sum.toDouble
          / (bg.size * 1e6)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(avg - exp) < 1e-9, s"doc $id: $avg vs $exp")
      }
    }
    // the repetitive doc is more predictable than the all-distinct one
    assert(got(1L)._2 < got(2L)._2)
  }

  test("ecdfFusion buckets monotonically and fuses to the mean decile") {
    val rows = (1 to 100).map(i => (i.toLong, i.toLong, (101 - i).toLong))
      .toDF("id", "up", "down")
    val out = TrainingData.ecdfFusion(rows, "id", Seq("up", "down"), nBuckets = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.foreach { case (id, bu, bd, fused) =>
      assert(bu >= 0 && bu <= 9 && bd >= 0 && bd <= 9)
      // up and down are mirror signals: buckets must mirror too
      assert(bu + bd == 9, s"id $id: $bu + $bd")
      assert(fused == 4.5)
    }
    // monotone: a strictly larger signal value never gets a smaller bucket
    val byId = out.map(r => r._1 -> r._2).toMap
    assert((2 to 100).forall(i => byId(i.toLong) >= byId(i.toLong - 1)))
  }

  test("triangleStats: cliques cluster at 1, chains at 0, counts exact") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("d1", "d2")
    val got = TrainingData.triangleStats(pairs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)))       // in the 1-2-3 triangle, deg 2
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, 0.333333)))  // deg 3, one of three pairs closed
    assert(got(4L) == ((2L, 0L, 0.0)))       // chain node: no triangle
    assert(got(5L) == ((1L, 0L, 0.0)))       // leaf: degree 1
    // handshake: Σ degree = 2·|E|
    assert(got.values.map(_._1).sum == 10L)
  }

  test("pageRankMicro matches a Scala integer model; the hub outranks leaves") {
    // star (1-2, 1-3, 1-4) + a chain tail (4-5), plus a duplicate and a
    // reversed pair the edge canonicalization must fold away
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (2L, 1L), (1L, 3L))
      .toDF("d1", "d2")
    val got = TrainingData.pageRankMicro(pairs, iterations = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the same integer recurrence in plain Scala (Long / truncates like
    // Spark's `div` on these positive operands)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (src, _) => r(src) / deg(src) }.sum).toMap
      r = in.map { case (id, s) => id -> (150000L + 85L * s / 100L) }
    }
    deg.keySet.foreach { id =>
      assert(got(id) == ((deg(id), r(id))), s"node $id: ${got(id)} vs model")
    }
    assert(r(1L) > r(2L) && r(1L) > r(5L)) // the hub anchors the family
    assert(got.size == 5)
  }

  test("pageRankMicro bounds truncateEvery to [1, 16] as a plan-size guard") {
    val pairs = Seq((1L, 2L)).toDF("d1", "d2")
    for (bad <- Seq(0, 17)) {
      val e = intercept[IllegalArgumentException](
        TrainingData.pageRankMicro(pairs, truncateEvery = bad))
      assert(e.getMessage.contains("truncateEvery must be in [1, 16]"), e.getMessage)
    }
    assert(TrainingData.pageRankMicro(pairs, iterations = 2, truncateEvery = 16)
      .count() == 2)
  }

  test("hardNegatives sit strictly below the positive threshold, ranked densely") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), // query
      (2L, Seq(0.99f, 0.14f, 0f, 0f)), // near-dup: sim ≈ 0.99 — excluded
      (3L, Seq(0.5f, 0.866f, 0f, 0f)), // sim = 0.5 ≥ 0.6? no: vs threshold 0.6 below
      (4L, Seq(0.3f, 0.954f, 0f, 0f)), // sim ≈ 0.3
      (5L, Seq(0f, 0f, 1f, 0f)), // orthogonal: sim = 0
      (6L, Seq(0f, 0f, 0f, 0f))) // zero vector: NULL sim, never ranked
      .toDF("id", "emb")
    val out = TrainingData.hardNegatives(
      vecs, vecs.filter(col("id") === 1), "id", "emb", k = 3, posThreshold = 0.6)
      .orderBy("rank").collect()
    // 2 (sim ≈ .99) is a positive, 6 has no direction: candidates are 3, 4, 5
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 4L, 5L))
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2, 3)) // dense ranks, no gap
    assert(out.forall(_.getDouble(2) < 0.6))
    // the excluded near-dup IS cosineTopK's rank-1: the band filter is
    // the only difference between the two relations
    val top = TrainingData.cosineTopK(
      vecs, vecs.filter(col("id") === 1), "id", "emb", 1).collect()
    assert(top.head.getLong(1) == 2L)
  }

  test("containmentPairs is asymmetric: the short doc sits inside the long one") {
    val got = TrainingData.containmentPairs(corpus, "id", "body", 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // 10 and 11 are byte-identical (4 shingles each): 1.0 both ways
    assert(got.contains((10L, 11L, 4L, 1.0)) && got.contains((11L, 10L, 4L, 1.0)))
    // 10's 4 shingles share 3 with 12's 7: contained 3/4 = 0.75 one way…
    assert(got.contains((10L, 12L, 3L, 0.75)))
    // …but 3/7 ≈ 0.43 the other — the asymmetry Jaccard can't express
    assert(!got.exists(p => p._1 == 12L && p._2 == 10L))
  }

  test("bm25TopK matches a Scala model and ranks term-matching docs first") {
    val corp = Seq(
      (100L, "spark shuffles data across the cluster"),
      (101L, "the cat sat on the mat"),
      (102L, "spark spark spark tuning guide"),
      (103L, "an unrelated gardening manual")).toDF("id", "body")
    val qs = Seq((1L, "spark cluster tuning")).toDF("id", "body")
    val got = TrainingData.bm25TopK(corp, qs, "id", "body", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    // Scala model of the identical quantized arithmetic
    val docs = Map(
      100L -> "spark shuffles data across the cluster",
      101L -> "the cat sat on the mat",
      102L -> "spark spark spark tuning guide",
      103L -> "an unrelated gardening manual")
      .map { case (k, v) => k -> v.split(" ").toSeq }
    val n = docs.size
    val dl = docs.map { case (k, v) => k -> v.size }
    val avgdl = dl.values.sum.toDouble / n
    def df(t: String) = docs.values.count(_.contains(t))
    def w(t: String, d: Long): Long = {
      val tf = docs(d).count(_ == t).toDouble
      if (tf == 0) 0L
      else math.round(
        math.log(1.0 + (n.toDouble - df(t).toDouble + 0.5) / (df(t).toDouble + 0.5))
          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl(d).toDouble / avgdl))))
          * 1e6)
    }
    val qTerms = Seq("spark", "cluster", "tuning")
    val model = docs.keys.toSeq
      .map(d => d -> qTerms.map(t => w(t, d)).sum)
      .filter(_._2 != 0).sortBy { case (d, s) => (-s, d) }
    assert(got.length == 2 && model.length == 2) // only 100 and 102 overlap
    got.zip(model).zipWithIndex.foreach { case (((gd, gs, gr), (md, ms)), i) =>
      assert(gd == md && gs == ms && gr == i + 1, s"rank ${i + 1}")
    }
  }

  test("sourceDriftChi2: identical distributions score ~0, a skewed source lights up") {
    val docs = (
      // sources a and b: identical 2:1 en/fr mix → cell == expected
      Seq.fill(20)(("a", "en")) ++ Seq.fill(10)(("a", "fr")) ++
      Seq.fill(40)(("b", "en")) ++ Seq.fill(20)(("b", "fr")) ++
      // source c emits ONLY de — maximal drift, and its absent en/fr
      // cells must still contribute (0 − E)²/E mass
      Seq.fill(30)(("c", "de")))
      .toDF("source", "lang")
    val got = TrainingData.sourceDriftChi2(docs, "source", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("a")._1 == 30L && got("b")._1 == 60L && got("c")._1 == 30L)
    assert(got.values.forall(_._2 == 2L)) // 3 global langs → dof 2
    // a and b only drift because c removed de-mass from their expected
    // counts; c is the outlier (hand arithmetic: χ²_c = 90, χ²_a = 10,
    // χ²_b = 20 on this table)
    assert(math.abs(got("c")._3 - 90.0) < 1e-3)
    assert(got("c")._3 > 4 * got("a")._3)
    assert(got("c")._3 > 4 * got("b")._3)
    assert(math.abs(got("a")._3 - got("b")._3 / 2) < 1e-3) // same shape, half the docs
  }

  test("majorityVote picks the most-voted label, breaks ties low, drops NULLs") {
    val votes = Seq(
      (Some(1L), Some("pos")), (Some(1L), Some("pos")), (Some(1L), Some("neg")),
      (Some(2L), Some("b")), (Some(2L), Some("a")), // tie → 'a'
      (Some(3L), Some("x")),
      (None, Some("pos")), (Some(4L), None)) // no vote carried
      .toDF("item_id", "label")
    val got = TrainingData.majorityVote(votes, "item_id", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(got(1L) == ((3L, 2L, "pos", 2L, 0.666667)))
    assert(got(2L) == ((2L, 2L, "a", 1L, 0.5))) // deterministic tie-break
    assert(got(3L) == ((1L, 1L, "x", 1L, 1.0))) // unanimous singleton
    assert(got.size == 3) // the NULL-item and NULL-label rows vanished
  }

  test("exactDedup groups byte-identical docs under the min id") {
    val out = TrainingData.exactDedup(corpus, "id", "body")
      .orderBy("canonical_id").collect()
    val dupRow = out.find(_.getLong(1) == 10L).get
    assert(dupRow.getLong(2) == 2) // 10 and 11
    assert(out.length == 4) // 4 distinct contents (incl. the empty doc)
  }

  test("nearDupPairs finds the exact and near duplicates at the right thresholds") {
    val strict = TrainingData.nearDupPairs(corpus, "id", "body", 0.99)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(strict == Set((10L, 11L))) // only the byte-identical pair at ~1.0
    val loose = TrainingData.nearDupPairs(corpus, "id", "body", 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(loose == Set((10L, 11L), (10L, 12L), (11L, 12L)))
    assert(!loose.exists(p => p._1 == 13L || p._2 == 13L))
  }

  test("nearDupPairs singleton prune is result-invariant") {
    val sh = TrainingData.shingles(corpus, "id", "body")
    def pairs(prune: Boolean) =
      TrainingData.nearDupPairsFromShingles(sh, 0.3, pruneSingletons = prune)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(pairs(prune = true) == pairs(prune = false))
  }

  test("minhashNearDupPairs finds the exact-dup pair with verified jaccard") {
    val strict = TrainingData.minhashNearDupPairs(corpus, "id", "body", 0.99)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(strict == Set((10L, 11L))) // identical docs always share all bands
    // every LSH pair is a true pair (candidates are exact-verified)
    val loose = TrainingData.minhashNearDupPairs(corpus, "id", "body", 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val truth = TrainingData.nearDupPairs(corpus, "id", "body", 0.3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(loose.subsetOf(truth))
  }

  test("tfidfCosinePairs: identical docs at cos 1, disjoint docs absent, df cut applied") {
    // shared tokens have df 3/5 = 0.6, so the cut is set at 0.7 here (the
    // default 0.5 would empty docs 10/11's vectors entirely);
    // docs 10/11 are identical → cos exactly 1 on the surviving terms
    val pairs = TrainingData.tfidfCosinePairs(corpus, "id", "body", 0.05, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((10L, 11L)) == 1.0)
    assert(pairs.contains((10L, 12L)) && pairs((10L, 12L)) < 1.0)
    assert(!pairs.keys.exists(p => p._1 == 13L || p._2 == 13L)) // no shared terms
    // threshold filters: at 0.99 only the identical pair survives
    val strict = TrainingData.tfidfCosinePairs(corpus, "id", "body", 0.99, 0.7)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(strict == Set((10L, 11L)))
    // a stopword-only doc pair vanishes when the cut removes all its terms
    val stopOnly = Seq((1L, "the the"), (2L, "the the"), (3L, "the x"),
      (4L, "y z")).toDF("id", "body")
    assert(TrainingData.tfidfCosinePairs(stopOnly, "id", "body", 0.01, 0.5)
      .filter($"d1" === 1L && $"d2" === 2L).count() == 0)
  }

  test("unigramLmScores: rare-token docs score higher nll; model-checked") {
    val docs = Seq(
      (1L, "a a a a"), // common tokens only
      (2L, "a rare"), // one rare token
      (3L, "")).toDF("id", "body")
    val out = TrainingData.unigramLmScores(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(3L)) // no tokens, no score
    assert(out(1L)._1 == 4 && out(2L)._1 == 2)
    // hand model: total=6, c(a)=5, c(rare)=1; nllq quantized to micro-nats
    def nllq(c: Long) = math.round(math.log(6.0 / c) * 1e6)
    val want1 = BigDecimal(4 * nllq(5) / (4 * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want2 = BigDecimal((nllq(5) + nllq(1)) / (2 * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._2 == want1 && out(2L)._2 == want2)
    assert(out(2L)._2 > out(1L)._2) // surprise orders the docs
  }

  test("bigramLmScores: Laplace bigram surprisal, hand-model-checked") {
    val docs = Seq(
      (1L, "a b a b"), // bigrams: "a b"×2, "b a"×1
      (2L, "a c"), // bigram: "a c"×1
      (3L, "solo"), // 1 token: no bigrams
      (4L, "")).toDF("id", "body")
    val out = TrainingData.bigramLmScores(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(3L) && !out.contains(4L)) // < 2 tokens ⇒ dropped
    assert(out(1L)._1 == 3 && out(2L)._1 == 1)
    // hand model: c(a b)=2, c(b a)=1, c(a c)=1; contexts c(a)=3, c(b)=1;
    // V=4 (a, b, c, solo). P(b|a)=(2+1)/(3+4); P(a|b)=(1+1)/(1+4);
    // P(c|a)=(1+1)/(3+4) — quantized per bigram TYPE to micro-nats
    def nllq(cu: Long, cuv: Long) =
      math.round(math.log((cu + 4).toDouble / (cuv + 1)) * 1e6)
    def mean(s: Long, n: Long) = BigDecimal(s / (n * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._2 == mean(2 * nllq(3, 2) + nllq(1, 1), 3))
    assert(out(2L)._2 == mean(nllq(3, 1), 1))
    // the rarer transition is the more surprising document
    assert(out(2L)._2 > out(1L)._2)
  }

  test("LM FromCounts variants equal the composed entry points") {
    // the persisted-relation path (what the fixture runs) must produce
    // the exact rows of the docs-based path — same counts, same
    // vocabulary, same quantization
    val docs = Seq((1L, "a b a b c"), (2L, "a c d"), (3L, "b"), (4L, ""))
      .toDF("id", "body")
    val tf = TrainingData.tokenCounts(docs, "id", "body")
    val bg = TrainingData.bigramCounts(docs, "id", "body")
    assert(TrainingData.unigramLmScoresFromCounts(tf).collect().toSet ==
      TrainingData.unigramLmScores(docs, "id", "body").collect().toSet)
    assert(TrainingData.bigramLmScoresFromCounts(bg,
        TrainingData.vocabularyFromCounts(tf)).collect().toSet ==
      TrainingData.bigramLmScores(docs, "id", "body").collect().toSet)
    // mis-shaped input fails analysis instead of silently mis-binding
    intercept[org.apache.spark.sql.AnalysisException] {
      TrainingData.unigramLmScoresFromCounts(tf.toDF("a", "b", "c")).collect()
    }
  }

  test("BPE training learns the hand-computed merge table and segmentation") {
    // the classic low/lower/lowest corpus; every round computed by hand:
    //  r1: (l,o):3 ties (o,w):3 -> lexicographic lhs -> (l,o)
    //  r2: (lo,w):3   r3: (low,e):2
    //  r4: (lowe,r):1 ties (lowe,s):1 and (s,t):1 -> rhs r < s -> (lowe,r)
    val docs = Seq((1L, "low lower lowest")).toDF("id", "body")
    val (merges, vocab) = TrainingData.bpeTrain(docs, "id", "body", numMerges = 4)
    assert(merges.orderBy("iter").collect().map(_.toSeq).toSeq == Seq(
      Seq(1, "l", "o", 3L), Seq(2, "lo", "w", 3L),
      Seq(3, "low", "e", 2L), Seq(4, "lowe", "r", 1L)))
    val syms = vocab.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(syms == Map("low" -> "low", "lower" -> "lower",
      "lowest" -> "lowe s t"))
    // segmentation joins the trained vocab; OOV falls back to chars
    val out = TrainingData.bpeSegment(
        Seq((1L, "lowest low"), (2L, "new"), (3L, "")).toDF("id", "body"),
        "id", "body", vocab)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(out == Set((1L, 4, "lowe s t low"), (2L, 3, "n e w")))
    // overlapping-run greedy: "a a a a a" under (a,a) merges 1st+3rd pairs
    val (m2, v2) = TrainingData.bpeTrain(
      Seq((1L, "aaaaa")).toDF("id", "body"), "id", "body", numMerges = 1)
    assert(m2.collect().map(_.toSeq).toSeq == Seq(Seq(1, "a", "a", 4L)))
    assert(v2.collect().map(_.getString(2)).toSeq == Seq("aa aa a"))
    // early stop: all words single-symbol after enough merges
    val (m3, _) = TrainingData.bpeTrain(
      Seq((1L, "ab ab")).toDF("id", "body"), "id", "body", numMerges = 5)
    assert(m3.collect().map(_.toSeq).toSeq == Seq(Seq(1, "a", "b", 2L)))
  }

  test("filterLines drops short and boilerplate lines, keeps order") {
    val docs = Seq(
      (1L, "the quick brown fox jumps here\nhome | about\ntoo short\nanother fine long line right here\nclick here to win a brand new car"),
      (2L, "short one"), // every line dropped -> empty clean_text survives
      (3L, "")).toDF("id", "body")
    val out = TrainingData.filterLines(docs, "id", "body",
        minTokens = 5, banned = Seq("click here", "|"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out(0) == (1L, 5, 2,
      "the quick brown fox jumps here\nanother fine long line right here"))
    assert(out(1) == (2L, 1, 0, "")) // doc kept, text emptied
    assert(out(2) == (3L, 1, 0, "")) // '' splits to one empty line
    // no banned list: only the length rule applies
    val loose = TrainingData.filterLines(docs, "id", "body", minTokens = 2)
      .orderBy("doc_id").collect().map(_.getInt(2))
    assert(loose.toSeq == Seq(5, 1, 0))
  }

  test("batched BPE: greedy symbol-disjoint selection, one barrier per round") {
    // pair counts (a,b):10 > (b,c):9 > (x,y):8; round 1 admits (a,b),
    // BLOCKS (b,c) — shares b — then admits (x,y); (b,c) waits for round 2
    val docs = (
      (1L to 10L).map(i => (i, "ab")) ++
      (11L to 19L).map(i => (i, "bc")) ++
      (20L to 27L).map(i => (i, "xy"))).toDF("id", "body")
    val (m, _) = TrainingData.bpeTrainBatched(docs, "id", "body",
      rounds = 2, batch = 3)
    assert(m.orderBy("round", "rank").collect().map(_.toSeq).toSeq == Seq(
      Seq(1, 1, "a", "b", 10L), Seq(1, 2, "x", "y", 8L),
      Seq(2, 1, "b", "c", 9L)))

    // fused-symbol reservation: "a a b" has (a,a):5 and (a,b):5; tie order
    // admits (a,a) first, which reserves a (and aa) — (a,b) is blocked in
    // the same round and the batch does NOT chain into (aa,b) either
    val docs2 = (1L to 5L).map(i => (i, "aab")).toDF("id", "body")
    val (m2, v2) = TrainingData.bpeTrainBatched(docs2, "id", "body",
      rounds = 2, batch = 4)
    assert(m2.orderBy("round", "rank").collect().map(_.toSeq).toSeq == Seq(
      Seq(1, 1, "a", "a", 5L), Seq(2, 1, "aa", "b", 5L)))
    assert(v2.collect().map(_.getString(2)).toSeq == Seq("aab"))

    // batch=1 degenerates to sequential BPE: same merges as bpeTrain
    val classic = Seq((1L, "low lower lowest")).toDF("id", "body")
    val (seq4, _) = TrainingData.bpeTrain(classic, "id", "body", numMerges = 4)
    val (bat1, bv) = TrainingData.bpeTrainBatched(classic, "id", "body",
      rounds = 4, batch = 1)
    assert(bat1.orderBy("round").collect().map(r =>
        (r.getInt(0), r.getString(2), r.getString(3), r.getLong(4))).toSeq ==
      seq4.orderBy("iter").collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq)
    // every vocab segmentation reassembles to its word (no symbol loss)
    bv.collect().foreach { r =>
      assert(r.getString(2).replace(" ", "") == r.getString(0)) }
    // batched vocab is consumable by the same segmenter
    val seg = TrainingData.bpeSegment(
        Seq((1L, "lowest unseen")).toDF("id", "body"), "id", "body", bv)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(seg == Set((1L, 9, "lowe s t u n s e e n")))
  }

  test("batched BPE at realistic depth: >=64 merges on the fixture vocab, barriers = rounds") {
    // the at-scale claim (32k vocab ~ 2k barriers at batch 16) measured
    // on the fixture: 64+ merges must land in ~merges/batch rounds, and
    // the Spark-job count must scale with ROUNDS, not MERGES (sequential
    // BPE pays >= 2 jobs per merge — >= 128 here)
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.01", "documents")
    val batch = 16
    val rounds = 6
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val m = try {
      val (m0, _) = TrainingData.bpeTrainBatched(
        docs, "doc_id", "text", rounds = rounds, batch = batch)
      val rows = m0.collect()
      Thread.sleep(2000) // listener bus is async; let job-start events drain
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    val nMerges = m.length
    val usedRounds = m.map(_.getInt(0)).max
    assert(nMerges >= 64, s"only $nMerges merges learned")
    // barrier count <= merges/batch + slack: each round is one pair-count
    // barrier; disjointness conflicts may leave a round slightly short
    assert(usedRounds <= nMerges / batch + 2,
      s"$usedRounds rounds for $nMerges merges at batch $batch")
    // job count is rounds-scaled (a handful per round for the pair-count
    // collect + materialization under AQE), nowhere near 2-per-merge
    assert(jobs > 0 && jobs < 2 * nMerges,
      s"$jobs jobs for $nMerges merges — not batching")
    assert(jobs <= usedRounds * 10 + 10, s"$jobs jobs in $usedRounds rounds")
    // within every round the admitted batch is symbol-disjoint: no
    // pair's {lhs, rhs, fused} touches an earlier pair's symbols (a
    // single pair may have lhs == rhs — that is not a collision)
    m.groupBy(_.getInt(0)).values.foreach { rnd =>
      val used = scala.collection.mutable.Set.empty[String]
      rnd.sortBy(_.getInt(1)).foreach { r =>
        val ps = Set(r.getString(2), r.getString(3),
          r.getString(2) + r.getString(3))
        assert((used & ps).isEmpty,
          s"symbol collision inside round ${r.getInt(0)}: ${used & ps}")
        used ++= ps
      }
    }
  }

  test("bigram LM separates natural from scrambled token order") {
    // corpus of repeated fluent sentences + one doc with the same tokens
    // shuffled: its unigram mix is identical, but its transitions are
    // unseen — the bigram model must score it strictly higher
    val fluent = (1L to 30L).map(i => (i, "the cat sat on the mat"))
    val docs = (fluent :+ (99L, "mat the on sat cat the")).toDF("id", "body")
    val out = TrainingData.bigramLmScores(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(99L) > out(1L) * 1.5, out.toString)
  }

  test("annTopKLsh returns exact-verified similarities for its candidates") {
    val vecs = (1L to 30L).map(i =>
      (i, (0 until 8).map(j => ((i * 7 + j * 3) % 11 - 5).toFloat))).toDF("id", "emb")
    val qs = vecs.filter(col("id") <= 3)
    val ann = TrainingData.annTopKLsh(vecs, qs, "id", "emb", k = 3, tables = 6, bits = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(ann.nonEmpty)
    // each returned sim must equal the brute-force sim for that pair
    val brute = TrainingData.cosineTopK(vecs, qs, "id", "emb", k = 29)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ann.foreach { case (pair, sim) =>
      assert(brute(pair) == sim, s"pair $pair: ann sim $sim vs exact ${brute(pair)}")
    }
    // ranks are dense per query, 1..n
    val byQ = ann.map(_._1).groupBy(_._1)
    byQ.foreach { case (_, pairs) => assert(pairs.length <= 3) }
  }

  test("annTopKIvf probes clusters and returns exact-verified similarities") {
    val vecs = (1L to 40L).map(i =>
      (i, (0 until 8).map(j => ((i * 13 + j * 5) % 17 - 8).toFloat))).toDF("id", "emb")
    val qs = vecs.filter(col("id") <= 3)
    val ivf = TrainingData.annTopKIvf(vecs, qs, "id", "emb",
      k = 3, nClusters = 4, nProbe = 2) // 8-dim: dimension inferred from seeds
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(ivf.nonEmpty)
    val brute = TrainingData.cosineTopK(vecs, qs, "id", "emb", k = 39)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ivf.foreach { case (pair, sim) =>
      assert(brute(pair) == sim, s"pair $pair: ivf sim $sim vs exact ${brute(pair)}")
    }
    assert(ivf.map(_._1).groupBy(_._1).forall(_._2.length <= 3))
  }

  test("shingles relation is shareable: FromShingles variants equal the inline forms") {
    val sh = TrainingData.shingles(corpus, "id", "body").persist()
    try {
      val exactShared = TrainingData.nearDupPairsFromShingles(sh, 0.3)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      val exactInline = TrainingData.nearDupPairs(corpus, "id", "body", 0.3)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(exactShared == exactInline && exactShared.nonEmpty)
      val lshShared = TrainingData.minhashNearDupPairsFromShingles(sh, 0.99)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(lshShared == Set((10L, 11L)))
    } finally sh.unpersist()
  }

  test("dedupClusters turns the pair set into one transitive group") {
    val pairs = Seq((10L, 11L), (11L, 12L), (40L, 41L)).toDF("d1", "d2")
    val labels = TrainingData.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 40L -> 40L, 41L -> 40L))
  }

  test("dedupClusters: a long chain converges in O(log diameter) rounds; the cap still throws") {
    // diameter 119 ≫ any feasible round count without pointer jumping;
    // with label := label's-label shortcutting each round, ~⌈log₂ d⌉ + 2
    // rounds suffice, far inside the default 50-round cap
    val chain = (1L until 120L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = TrainingData.dedupClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (1L to 120L).map(_ -> 1L).toMap)
    // an unreachable cap must still THROW (silently partial clusters are
    // corruption), exercised with a cap below the log-round floor
    intercept[IllegalStateException](
      TrainingData.dedupClusters(chain, maxRounds = 2))
  }

  test("dedupClusters handles ids near 2^62 (convergence must not sum labels)") {
    // hash- or snowflake-derived doc ids: two labels near 2^62 overflow an
    // ANSI sum(label) — the changed-count convergence check must not
    val big = Long.MaxValue / 2
    val pairs = Seq((big, big + 1), (big + 1, big + 2), (7L, big + 3))
      .toDF("d1", "d2")
    val labels = TrainingData.dedupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(big -> big, (big + 1) -> big, (big + 2) -> big,
      7L -> 7L, (big + 3) -> 7L))
  }

  test("end-to-end dedup clustering at an adversarial shape: chains + star clusters") {
    // long chains (diameter stress) + large stars (fan-out stress) + noise
    // pairs, validated against a union-find model — the scale-shape proof
    // for the dedup family
    val t0 = System.nanoTime()
    val chains = (0 until 3).flatMap { c =>
      val base = 1000L * (c + 1)
      (0L until 40L).map(i => (base + i, base + i + 1))
    }
    val stars = (0 until 2).flatMap { s =>
      val hub = 5000L * (s + 1)
      (1L to 200L).map(i => (hub, hub + i))
    }
    val noise = Seq((1L, 2L), (2L, 3L), (90L, 91L))
    val all = chains ++ stars ++ noise
    // model: union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    all.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = all.flatMap(e => Seq(e._1, e._2)).distinct
    val roots = nodes.groupBy(find).map { case (_, vs) => vs.min -> vs.toSet }
    val expected = roots.flatMap { case (m, vs) => vs.map(_ -> m) }.toMap

    val got = TrainingData.dedupClusters(all.toDF("d1", "d2"), maxRounds = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // generous bound: ~80 small shuffle jobs on the shared local session
    // are load-sensitive; this guards against pathological blowup (the
    // pre-fix exponential plan took unboundedly long), not machine noise
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 90.0, f"adversarial clustering took $secs%.1f s (bound 90 s)")
  }

  test("embeddingNearDupPairs finds duplicate vectors with exact-verified sims") {
    // exact duplicates collide in every SRP table → recall 1 at high sim
    val base = (0 until 8).map(j => (j * 3 % 7 - 3).toFloat)
    val other = (0 until 8).map(j => (j * 5 % 11 - 5).toFloat)
    val vecs = Seq(
      (1L, base), (2L, base), // exact dup pair
      (3L, base.map(x => x * 2f)), // same direction → cosine 1 with 1,2
      (4L, other),
      (5L, Seq.fill(8)(0f)) // zero vector: no direction, must be dropped
    ).toDF("id", "emb")
    val pairs = TrainingData.embeddingNearDupPairs(vecs, "id", "emb", 0.99)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.values.forall(_ >= 0.99))
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("annTopKLsh/annTopKIvf return identical results when broadcasts are disabled") {
    // large-|Q| contract: with autoBroadcastJoinThreshold=-1 every
    // candidate join degrades to a shuffle join — results must be
    // identical, proving correctness never depended on the broadcast path
    val vecs = (1L to 40L).map(i =>
      (i, (0 until 8).map(j => ((i * 7 + j * 3) % 11 - 5).toFloat))).toDF("id", "emb")
    val qs = vecs.filter(col("id") <= 5)
    def lsh() = TrainingData.annTopKLsh(vecs, qs, "id", "emb", k = 3, tables = 6, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    def ivf() = TrainingData.annTopKIvf(vecs, qs, "id", "emb", k = 3, nClusters = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val (lshB, ivfB) = (lsh(), ivf())
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      assert(lsh() == lshB && lshB.nonEmpty)
      assert(ivf() == ivfB && ivfB.nonEmpty)
    } finally spark.conf.set(key, prev)
  }

  test("tokenStats and fingerprint handle normal and empty docs") {
    val stats = TrainingData.tokenStats(corpus, "id", "body")
      .orderBy("id").collect()
    assert(stats(0).getInt(1) == 6) // "the cat sat on the mat"
    assert(stats(0).getInt(2) == 5) // "the" twice
    assert(stats(4).getInt(1) == 0 && stats(4).isNullAt(4)) // empty doc: NULL avg
    val fp = TrainingData.fingerprint(corpus, "id", "body")
      .orderBy("id").collect()
    assert(fp(0).getString(1) == fp(1).getString(1)) // dups share a fingerprint
    assert(fp(0).getString(1) != fp(3).getString(1))
    assert(fp.forall(_.getString(1).length == 16))
  }

  test("cosineTopK ranks an orthogonal basis correctly") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)), // closest to 1
      (3L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(0.7f, 0.7f, 0f, 0f))).toDF("id", "emb")
    val top = TrainingData.cosineTopK(vecs, vecs.filter(col("id") === 1), "id", "emb", 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(2L, 4L)) // rank 1 = 2, rank 2 = 4
    assert(top(0).getDouble(2) > top(1).getDouble(2))
  }

  test("quantizeInt8 round-trips a known vector") {
    val vecs = Seq((1L, Seq(1.27f, -1.27f, 0.635f, 0f))).toDF("id", "emb")
    val r = TrainingData.quantizeInt8(vecs, "id", "emb", 4).collect()(0)
    assert(r.getInt(2) == 127 && r.getInt(3) == -127) // ±absmax saturate
    assert(r.getInt(4) == 64 || r.getInt(4) == 63) // half-scale element
    assert(r.getInt(6) >= 1) // at least the ±127 entries count as saturated
    assert(r.getDouble(7) >= 0.0) // mse defined
  }

  test("deterministicSplit is stable under repartitioning and respects weights") {
    val docs = (1L to 2000L).toDF("id")
    val split = TrainingData.deterministicSplit(docs, "id",
      Seq(("train", 80), ("val", 10), ("test", 10)))
    val a = split.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // identical assignment from a different partitioning (randomSplit and
    // sample both FAIL this property — the point of the content hash)
    val b = TrainingData.deterministicSplit(docs.repartition(17), "id",
      Seq(("train", 80), ("val", 10), ("test", 10)))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a == b)
    // proportions near the weights (16-bit hash over 2000 ids)
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, s"train frac ${frac("train")}")
    assert(math.abs(frac("val") - 0.1) < 0.03 && math.abs(frac("test") - 0.1) < 0.03)
    // every row assigned, buckets in range
    val buckets = split.collect().map(_.getInt(1))
    assert(buckets.forall(v => v >= 0 && v < 100))
    intercept[IllegalArgumentException](
      TrainingData.deterministicSplit(docs, "id", Seq(("train", 50), ("val", 10))))
  }

  test("hashSample is the bucket-prefix subset of the split assignment") {
    val docs = (1L to 500L).toDF("id")
    val sample = TrainingData.hashSample(docs, "id", 20)
      .collect().map(_.getLong(0)).toSet
    val byBucket = TrainingData.deterministicSplit(docs, "id", Seq(("all", 100)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sample == byBucket.filter(_._2 < 20).keySet)
    assert(sample.nonEmpty && sample.size < 500)
    // sampling twice gives the same rows (deterministic, not pseudo-random)
    val again = TrainingData.hashSample(docs, "id", 20)
      .collect().map(_.getLong(0)).toSet
    assert(again == sample)
  }

  test("stratifiedHashSample keeps per-stratum fractions, nested and deterministic") {
    val docs = (1L to 3000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "es" else "fr"))
      .toDF("id", "lang")
    val kept = TrainingData.stratifiedHashSample(docs, "id", "lang",
      Map("en" -> 10, "es" -> 50)).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(byLang("en") / 1000.0 - 0.10) < 0.04)
    assert(math.abs(byLang("es") / 1000.0 - 0.50) < 0.06)
    assert(byLang("fr") == 1000) // default 100%: rare stratum kept whole
    // nesting: a stratum's 10% sample ⊂ its 50% sample (bucket prefixes)
    val en10 = kept.filter(_._2 == "en").map(_._1).toSet
    val en50 = TrainingData.stratifiedHashSample(docs, "id", "lang",
      Map("en" -> 50, "es" -> 50)).collect()
      .filter(_.getString(1) == "en").map(_.getLong(0)).toSet
    assert(en10.subsetOf(en50))
  }

  test("packSequences matches a driver-side model and is repartition-invariant") {
    // variable-length docs: "w w w ... w" with i%7+1 tokens
    val docs = (1L to 400L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
      .toDF("id", "body")
    val budget = 10L
    val got = TrainingData.packSequences(docs, "id", "body", budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // model: exclusive cumsum in id order
    var cum = 0L
    val model = (1L to 400L).map { i =>
      val n = i % 7 + 1
      val row = (i, n, cum, cum / budget)
      cum += n
      row
    }
    assert(got.toSeq == model)
    val reparted = TrainingData.packSequences(docs.repartition(13), "id", "body", budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(reparted.toSeq == model)
    intercept[IllegalArgumentException](
      TrainingData.packSequences(docs, "id", "body", 0L))
  }

  test("contaminationPairs flags a probe contained in a longer corpus doc") {
    // the leak shape: a short probe pasted verbatim inside a long corpus
    // doc — low Jaccard (corpus doc has many extra shingles), containment 1
    val probe = "alpha beta gamma delta epsilon"
    val corpusDoc = s"lots of extra training words before $probe and after " +
      "it the document keeps going with more filler tokens"
    val corpus = Seq((100L, corpusDoc),
      (101L, "totally unrelated content about something else entirely here"))
      .toDF("id", "body")
    val probes = Seq((1L, probe)).toDF("id", "body")
    val hits = TrainingData.contaminationPairs(corpus, probes, "id", "body", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(hits.length == 1)
    assert(hits(0)._1 == 1L && hits(0)._2 == 100L && hits(0)._3 == 1.0)
    // and Jaccard on the same pair would be far below the threshold —
    // containment is the right metric for this shape
    val jac = TrainingData.nearDupPairs(
      corpus.union(probes), "id", "body", 0.9)
      .collect()
    assert(!jac.exists(r => r.getLong(0) == 1L || r.getLong(1) == 1L))
  }

  test("normalizeForDecontam catches re-punctuated/re-wrapped copies the raw scan misses") {
    // the perturbation class decontamination normalization exists for:
    // a training doc that carries an eval doc's content but re-cased,
    // re-punctuated, and re-wrapped across lines
    val probe = "the quick brown fox jumps over the lazy dog near the river bank today"
    val perturbed = "The, quick; brown... fox\njumps over\tthe lazy dog! near the\nriver bank today."
    val corpus = Seq((100L, perturbed),
      (101L, "totally unrelated content about something else entirely here"))
      .toDF("id", "body")
    val probes = Seq((1L, probe)).toDF("id", "body")
    // raw scan: tokens split on single spaces, punctuation glued to
    // words → shingles differ → the perturbed copy escapes
    val raw = TrainingData.contaminationPairs(corpus, probes, "id", "body", 0.5)
      .collect()
    assert(raw.isEmpty, s"raw scan unexpectedly caught: ${raw.mkString}")
    // normalized scan: both sides canonicalize to the same token stream
    // → containment 1.0
    val nc = TrainingData.normalizeForDecontam(corpus, "id", "body")
    val np = TrainingData.normalizeForDecontam(probes, "id", "body")
    val hits = TrainingData.contaminationPairs(nc, np, "id", "norm_text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(hits.length == 1 && hits(0) == ((1L, 100L, 1.0)), hits.mkString)
  }

  test("lengthGroupedBatches: full batches, deterministic, and genuinely padding-efficient") {
    // 64 docs with token counts 1..64 → 4 buckets of 16, 8-doc batches
    val docs = (1L to 64L).map(i => (i, Seq.fill(i.toInt)("w").mkString(" ")))
      .toDF("id", "body")
    val out = TrainingData.lengthGroupedBatches(docs, "id", "body",
        nBuckets = 4, batchSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(out.length == 64)
    // every (bucket, batch) is exactly full here (16 per bucket = 2 full batches)
    val sizes = out.groupBy(r => (r._3, r._4)).view.mapValues(_.length)
    assert(sizes.values.forall(_ == 8), sizes.toMap)
    // padding efficiency: the mean within-batch length spread is far
    // below the global spread (what random batching would pay)
    val spreads = out.groupBy(r => (r._3, r._4)).values
      .map(b => b.map(_._2).max - b.map(_._2).min)
    assert(spreads.max <= 15, spreads) // bucket width caps the spread
    // deterministic across invocations
    val again = TrainingData.lengthGroupedBatches(docs, "id", "body", 4, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("minKProbScores: hardest-k mean resists boilerplate padding, hand-checked") {
    // "pad pad ... pad rare1 rare2": the overall mean surprisal is
    // diluted by the 8 cheap pads, the hardest-20% (k_cnt=2) mean is
    // exactly the two rare tokens' surprisal
    val docs = Seq(
      (1L, "pad pad pad pad pad pad pad pad zq1 zq2"),
      (2L, "pad pad pad pad pad pad pad pad pad pad"),
      (3L, "")
    ).toDF("id", "body")
    val out = TrainingData.minKProbScores(docs, "id", "body", 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    // corpus: total 20 tokens; pad c=18, zq1/zq2 c=1 each
    val lRare = math.round(math.log(20.0 / 1) * 1e6)
    val lPad = math.round(math.log(20.0 / 18) * 1e6)
    val exp1 = BigDecimal(2 * lRare / 2.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal(2 * lPad / 2.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((10L, 2L, Some(exp1))), out(1L))
    assert(out(2L) == ((10L, 2L, Some(exp2))), out(2L))
    assert(out(3L) == ((0L, 0L, None)))
    // the padded-gibberish doc scores far above the pure-boilerplate one
    assert(out(1L)._3.get > out(2L)._3.get * 5)
  }

  test("sourceKlMatrix equals a plain-Scala dense model; KL is non-negative and asymmetric") {
    val docs = Seq(
      ("a", "x x x y"), ("a", "x z"),
      ("b", "y y y z"), ("b", "w w"),
      ("c", "x x x y x z") // c ≈ a's distribution, far from b
    ).toDF("src", "body")
    val got = TrainingData.sourceKlMatrix(docs, "src", "body")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // dense model with the same micro-nat quantization
    val toks = Seq("a" -> Seq("x", "x", "x", "y", "x", "z"),
      "b" -> Seq("y", "y", "y", "z", "w", "w"),
      "c" -> Seq("x", "x", "x", "y", "x", "z"))
    val vocab = toks.flatMap(_._2).distinct
    val V = vocab.size
    def l(src: String, t: String): Long = {
      val cnt = toks.find(_._1 == src).get._2.count(_ == t)
      val n = toks.find(_._1 == src).get._2.size
      math.round(math.log((n + V).toDouble / (cnt + 1)) * 1e6)
    }
    def kl(a: String, b: String): Double = {
      val n = toks.find(_._1 == a).get._2.size
      val num = vocab.map { t =>
        val ca1 = toks.find(_._1 == a).get._2.count(_ == t) + 1L
        ca1 * (l(b, t) - l(a, t))
      }.sum
      BigDecimal(num.toDouble / ((n + V).toDouble * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for (x <- Seq("a", "b", "c"); y <- Seq("a", "b", "c") if x != y)
      assert(got((x, y)) == kl(x, y), s"($x,$y): ${got((x, y))} vs ${kl(x, y)}")
    // a and c share a distribution → near-zero divergence; both far from b
    assert(got(("a", "c")) < 0.01 && got(("c", "a")) < 0.01)
    assert(got(("a", "b")) > 0.2 && got(("b", "a")) > 0.2)
    // KL is non-negative (up to micro-nat quantization slack) and the
    // matrix is genuinely asymmetric
    got.values.foreach(v => assert(v >= -1e-5, s"negative KL $v"))
    assert(got(("a", "b")) != got(("b", "a")))
  }

  test("curationVerdicts attributes every cascade branch, first rule wins") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, base, 100.0),                       // canonical of the exact pair
      (11L, base, 500.0),                       // exact dup (higher id) even
                                                // though it out-scores 10
      (12L, base + " lambda mu", 300.0),        // near-dup of the 10-cluster,
                                                // highest score → survivor...
      (13L, "probe text one two three four five six seven eight", 400.0),
      // ^ contains probe 1's full text → contamination (survivor, no dup)
      (14L, "tiny", 5.0),                       // below the quality floor
      (15L, "totally separate healthy document about other things entirely", 200.0),
      (16L, null.asInstanceOf[String], 300.0)   // NULL text → quality
    ).toDF("id", "body", "score")
    val probes = Seq(
      (1L, "probe text one two three four five six seven eight"))
      .toDF("id", "body")
    val got = TrainingData.curationVerdicts(docs, "id", "body", "score",
        probes.withColumn("score", lit(1.0)), minScore = 10.0)
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    // cluster {10, 11, 12}: 12 has the best score → survivor; 11 is an
    // exact dup of 10 (rule 1 beats its also-true near-dup status); 10
    // loses survivorship → near_dup
    assert(got == Map(
      10L -> Some("near_dup"), 11L -> Some("exact_dup"), 12L -> None,
      13L -> Some("contamination"), 14L -> Some("quality"), 15L -> None,
      16L -> Some("quality")), got)
  }

  test("corpusDiff classifies by presence flags; NULL-text rows stay comparable") {
    val old = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"),
      (4L, "d")).toDF("id", "body")
    val neu = Seq((2L, null.asInstanceOf[String]), (3L, "c2"), (4L, "d"),
      (5L, "e")).toDF("id", "body")
    val got = TrainingData.corpusDiff(old, neu, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // id 2 is PRESENT with NULL text in both dumps: presence flags keep
    // it 'unchanged' — hash-nullability-as-presence would say 'added'
    assert(got == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "unchanged", 5L -> "added"), got)
  }

  test("filterThresholdSweep: hand-computed precision/recall/F1 per threshold") {
    // scores 0..3, labels: bucket 3 → 2 pos; bucket 2 → 1 pos 1 neg;
    // bucket 1 → 0 pos 2 neg; bucket 0 → 1 pos; one null label dropped
    val docs = Seq(
      (3.5, java.lang.Boolean.TRUE), (3.1, java.lang.Boolean.TRUE),
      (2.5, java.lang.Boolean.TRUE), (2.0, java.lang.Boolean.FALSE),
      (1.5, java.lang.Boolean.FALSE), (1.0, java.lang.Boolean.FALSE),
      (0.5, java.lang.Boolean.TRUE), (0.9, null.asInstanceOf[java.lang.Boolean])
    ).toDF("score", "label")
    val out = TrainingData.filterThresholdSweep(docs, "score", "label", 1.0)
      .orderBy("threshold_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    // pos_total = 4; keep >= 3: 2/2 pos; >= 2: 3/4; >= 1: 3/6; >= 0: 4/7
    assert(out.toSeq == Seq(
      (0L, 7L, 4L, math.rint(4.0 / 7 * 1e6) / 1e6, 1.0),
      (1L, 6L, 3L, 0.5, 0.75),
      (2L, 4L, 3L, 0.75, 0.75),
      (3L, 2L, 2L, 1.0, 0.5)), out.mkString)
  }

  test("packedSegments: segments tile bins exactly and reassemble every document") {
    // budget 10; doc 2 spans three bins (6..29), doc 4 is empty
    val docs = Seq(
      (1L, "a b c d e f"),          // 6 toks: [0,6)
      (2L, (1 to 24).map("t" + _).mkString(" ")), // 24 toks: [6,30)
      (3L, "x y z"),                // 3 toks: [30,33)
      (4L, "")                      // 0 toks: no segments
    ).toDF("id", "body")
    val asg = TrainingData.packSequences(docs, "id", "body", 10L)
    val segs = TrainingData.packedSegments(asg, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // per-document reassembly: tok_from ranges tile [0, n_tokens)
    val byDoc = segs.groupBy(_._2).view.mapValues(_.sortBy(_._3)).toMap
    assert(!byDoc.contains(4L))
    assert(byDoc(2L).map(_._5).sum == 24L)
    byDoc.foreach { case (_, ss) =>
      var expectFrom = 0L
      ss.foreach { case (_, _, _, _, len, from) =>
        assert(from == expectFrom); expectFrom += len
      }
    }
    // per-bin tiling: within a bin, sorted segments cover [0, 10)
    // contiguously (the last bin may end short)
    val byBin = segs.groupBy(_._1)
    val lastBin = byBin.keys.max
    byBin.foreach { case (bin, ss) =>
      var cursor = 0L
      ss.sortBy(_._4).foreach { case (_, _, _, st, len, _) =>
        assert(st == cursor, s"gap in bin $bin at $cursor"); cursor += len
      }
      if (bin != lastBin) assert(cursor == 10L, s"bin $bin short: $cursor")
    }
    // doc 2's first segment continues exactly where bin 0 left off
    assert(byDoc(2L).head == ((0L, 2L, 0, 6L, 4L, 0L)))
  }

  test("interleaveBySource: rates honored, deterministic, unlisted sources excluded") {
    val docs = (1L to 50L).map(i =>
      (i, if (i <= 25) "a" else if (i <= 45) "b" else "zzz")).toDF("id", "src")
    val out = TrainingData.interleaveBySource(docs, "id", "src",
        Seq(("a", 5), ("b", 1)))
      .orderBy("pos", "source", "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // weight-zero contract: source zzz absent
    assert(out.forall(_._2 != "zzz") && out.length == 45)
    // rate pacing: among the first 12 scheduled docs, a:b ≈ 5:1
    val first12 = out.take(12).map(_._2)
    assert(first12.count(_ == "a") == 10 && first12.count(_ == "b") == 2, first12.mkString)
    // deterministic across invocations
    val again = TrainingData.interleaveBySource(docs, "id", "src",
        Seq(("a", 5), ("b", 1)))
      .orderBy("pos", "source", "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.sameElements(again))
    // pos is exactly src_rank / weight
    out.foreach { case (_, srcName, rank, pos) =>
      val wgt = if (srcName == "a") 5.0 else 1.0
      assert(pos == rank.toDouble / wgt)
    }
  }

  test("tfidfWeights absolute df cap bounds posting lists independent of corpus size") {
    // 12 docs; "common" appears in 10 (df 10), "rare" in 2 (df 2).
    // fraction cut alone (0.9) keeps both; the absolute cap 5 must
    // drop "common" — the posting-list bound that keeps the pair join
    // linear at scale — while "rare" survives
    val docs = (1L to 12L).map(i =>
      (i, if (i <= 10) s"common filler$i" else s"rare filler$i")).toDF("id", "body")
    val toks = TrainingData.tfidfWeights(docs, "id", "body",
        maxDfFraction = 0.9, maxDf = 5L)
      .select("tok").collect().map(_.getString(0)).toSet
    assert(!toks.contains("common"), toks.mkString(","))
    assert(toks.contains("rare"))
    // and with the cap above every df, the fraction rule alone governs
    val uncapped = TrainingData.tfidfWeights(docs, "id", "body",
        maxDfFraction = 0.9, maxDf = Long.MaxValue)
      .select("tok").collect().map(_.getString(0)).toSet
    assert(uncapped.contains("common"))
  }

  test("srpBitsFor sizes bucket bits to corpus for constant expected occupancy") {
    assert(TrainingData.srpBitsFor(64) == 4)   // floor
    assert(TrainingData.srpBitsFor(5000) == 7) // log2(5000/64) = 6.3 → 7
    assert(TrainingData.srpBitsFor(50000) == 10)
    assert(TrainingData.srpBitsFor(50000, targetBucket = 512) == 7)
    // occupancy target holds: n / 2^bits <= targetBucket (within the
    // ceil slack), so candidate pairs stay ~tables·n·target/2 — linear
    Seq(100L, 10000L, 1000000L).foreach { n =>
      val b = TrainingData.srpBitsFor(n)
      assert(n.toDouble / (1L << b) <= 64.0, s"n=$n bits=$b")
    }
    // exact power-of-two boundaries — the libm-ulp trap class the integer
    // derivation exists for: n = 64·2^k must give k, n+1 must give k+1,
    // and the registered x26f oracle replays the identical shift-compare
    Seq(6, 10, 20).foreach { k =>
      assert(TrainingData.srpBitsFor(64L << k) == k, s"boundary k=$k")
      assert(TrainingData.srpBitsFor((64L << k) + 1) == k + 1, s"boundary+1 k=$k")
    }
  }

  test("crossSourceDupMatrix conserves pair counts; unresolved ids fold into 'unknown'") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 99L), (98L, 99L)).toDF("d1", "d2")
    val docs = Seq((1L, "web"), (2L, "books"), (3L, "web"),
      (4L, null.asInstanceOf[String])).toDF("id", "src")
    val m = TrainingData.crossSourceDupMatrix(pairs, docs, "id", "src")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // ids 98/99 are absent from docs → 'unknown' rows, not dropped
    assert(m == Map(("books", "web") -> 1L, ("web", "web") -> 1L,
      ("books", "unknown") -> 1L, ("unknown", "unknown") -> 1L), m)
    // conservation: every input pair appears in exactly one cell
    assert(m.values.sum == 4L)
  }

  test("preferencePairs: deterministic chosen, ties/nulls/singletons emit nothing") {
    val responses = Seq(
      ("pA", 3L, java.lang.Double.valueOf(5.0)), // ties with 1 on rating → 1 chosen (min id)
      ("pA", 1L, java.lang.Double.valueOf(5.0)),
      ("pA", 2L, java.lang.Double.valueOf(3.0)),
      ("pA", 4L, null.asInstanceOf[java.lang.Double]), // unrated → dropped
      ("pB", 7L, java.lang.Double.valueOf(1.0)),       // singleton → no pair
      ("pC", 8L, java.lang.Double.valueOf(2.0)),
      ("pC", 9L, java.lang.Double.valueOf(0.5))
    ).toDF("prompt", "rid", "score")
    val out = TrainingData.preferencePairs(responses, "prompt", "rid", "score")
      .orderBy("prompt_id", "rejected_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // pA: chosen=1 (tie-break to lowest id), only id 2 is strictly worse
    // (3 ties with the chosen → no signal, 4 unrated → dropped);
    // pB: nothing; pC: 8 over 9
    assert(out.toSeq == Seq(("pA", 1L, 2L, 2.0), ("pC", 8L, 9L, 1.5)), out.mkString)
    // minMargin drops the weak pC preference
    val strong = TrainingData.preferencePairs(responses, "prompt", "rid", "score",
        minMargin = 1.6)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(strong.toSeq == Seq(("pA", 1L, 2L)), strong.mkString)
  }

  test("dedupSurvivors keeps the highest-scoring member per cluster, singletons survive") {
    val docs = Seq(
      (1L, 10.0), (2L, 30.0), (3L, 30.0), // cluster {1,2,3}: 2 and 3 tie on score → min id 2
      (7L, 5.0),                          // unpaired → own singleton cluster
      (8L, 1.0), (9L, 2.0)                // cluster {8,9}: 9 wins on score
    ).toDF("id", "quality")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L)).toDF("id", "label")
    val out = TrainingData.dedupSurvivors(docs, "id", "quality", labels)
      .orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 3L), (7L, 7L, 1L), (8L, 9L, 2L)))
    // a NULL score loses to any scored member; an all-null cluster falls
    // back to the min-id tiebreak
    val withNulls = Seq((1L, Some(0.5)), (2L, None), (5L, None), (6L, None))
      .toDF("id", "quality")
    val nl = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("id", "label")
    val out2 = TrainingData.dedupSurvivors(withNulls, "id", "quality", nl)
      .orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out2.toSeq == Seq((1L, 1L, 2L), (5L, 5L, 2L)))
  }

  test("topFractionByStrata keeps the best rows per stratum, ties at the cutoff kept") {
    val rows = Seq(
      ("en", 1L, 10), ("en", 2L, 20), ("en", 3L, 30), ("en", 4L, 40),
      ("es", 5L, 7), ("es", 6L, 7), ("es", 7L, 7) // all tie → all at/above any cutoff
    ).toDF("lang", "id", "score")
    val kept = TrainingData.topFractionByStrata(rows, "lang", "score", 0.5)
      .select("id").as[Long].collect().toSet
    // en: p50 of (10,20,30,40) = 25 → keep 30,40; es: all tie at 7 → all kept
    assert(kept == Set(3L, 4L, 5L, 6L, 7L))
    intercept[IllegalArgumentException](
      TrainingData.topFractionByStrata(rows, "lang", "score", 0.0))
  }

  test("dedupCorpus keeps the best-scoring copy of each near-dup group, full rows") {
    val docs = Seq(
      (10L, "the cat sat on the mat", 1.0),
      (11L, "the cat sat on the mat", 9.0),      // exact dup, higher score → kept
      (13L, "completely different words entirely here now", 2.0))
      .toDF("id", "body", "quality")
    val kept = TrainingData.dedupCorpus(docs, "id", "body", "quality", 0.9)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(kept.toSeq == Seq((11L, 9.0), (13L, 2.0)))
  }

  test("contaminationPairsBloom equals the exact scan (false positives die in the join)") {
    // corpus big enough that the Bloom prefilter actually rejects rows
    val corpus = (100L to 300L).map(i =>
      (i, s"filler doc number $i with words w${i % 7} w${i % 11} w${i % 13} padding end"))
      .toDF("id", "body")
    val leaky = Seq((400L, "before the quick brown fox jumps over it after more")).toDF("id", "body")
    val probes = Seq((1L, "the quick brown fox jumps over"),
      (2L, "no such text anywhere at all")).toDF("id", "body")
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val full = corpus.union(leaky)
    val exact = collectPairs(TrainingData.contaminationPairs(full, probes, "id", "body", 0.5))
    val bloom = collectPairs(TrainingData.contaminationPairsBloom(full, probes, "id", "body", 0.5))
    assert(bloom == exact)
    assert(exact.exists(h => h._1 == 1L && h._2 == 400L))
  }

  test("repetitionStats measures top-bigram share and duplicate-trigram share") {
    val docs = Seq(
      (20L, "a b a b a b"), // bigrams: ab,ba,ab,ba,ab → mx 3/5; trigrams all dup'd
      (21L, "x y z w"),     // all grams unique
      (22L, "q r"),         // one bigram, too short for trigrams
      (23L, "solo"),        // too short for any gram
      (24L, "")).toDF("id", "body")
    val out = TrainingData.repetitionStats(docs, "id", "body")
      .orderBy("id").collect()
    def frac(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    assert(out(0).getLong(1) == 5 && frac(out(0), 2) == Some(0.6) &&
      frac(out(0), 3) == Some(1.0))
    assert(out(1).getLong(1) == 3 && frac(out(1), 2) == Some(0.333333) &&
      frac(out(1), 3) == Some(0.0))
    assert(out(2).getLong(1) == 1 && frac(out(2), 2) == Some(1.0) &&
      frac(out(2), 3) == None) // no trigrams → NULL, not 0/0
    assert(out(3).getLong(1) == 0 && frac(out(3), 2) == None && frac(out(3), 3) == None)
    assert(out(4).getLong(1) == 0 && frac(out(4), 2) == None && frac(out(4), 3) == None)
  }

  test("end-to-end pipeline: dedup -> decontaminate -> split -> pack composes on the public API") {
    // a miniature of the real job: raw corpus with duplicates and a
    // leaked eval doc, through the whole chain, every stage the library's
    // own operators
    val evalSet = Seq((9001L, "what is the capital of atlantis tell me now please"))
      .toDF("id", "body")
    val raw = (
      (1L to 40L).map(i => (i, s"unique training document number $i with some extra words " +
        s"about topic ${i % 7} and further content to shingle")) ++
      Seq(
        (41L, "duplicated doc body that appears twice in the corpus verbatim"),
        (42L, "duplicated doc body that appears twice in the corpus verbatim"),
        (43L, "prefix words then what is the capital of atlantis tell me now please and suffix"))
      ).toDF("id", "body")

    // 1. exact dedup: keep canonical survivors
    val survivors = TrainingData.exactDedup(raw, "id", "body")
      .select(col("canonical_id").as("id"))
    val deduped = raw.join(survivors, "id")
    assert(deduped.count() == 42) // 43 rows, one exact dup dropped

    // 2. decontaminate against the eval set (containment >= 0.8)
    val leaks = TrainingData.contaminationPairs(deduped, evalSet, "id", "body", 0.8)
      .select(col("corpus_id").as("id"))
    val clean = deduped.join(leaks, Seq("id"), "left_anti")
    assert(clean.count() == 41) // doc 43 contained the eval doc
    assert(clean.filter(col("id") === 43L).isEmpty)

    // 3. deterministic split, then pack the train split into 64-token bins
    val train = TrainingData.deterministicSplit(clean, "id",
      Seq(("train", 90), ("holdout", 10)))
      .filter(col("split") === "train")
    val packed = TrainingData.packSequences(train, "id", "body", 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(packed.nonEmpty && packed.length == train.count())
    // bins are the concatenate-and-chunk layout: start offsets are the
    // exclusive cumsum in id order and bins are start_off / 64
    var cum = 0L
    packed.foreach { case (_, n, off, bin) =>
      assert(off == cum && bin == off / 64)
      cum += n
    }
  }

  test("mixCorpora blends sources at their weights with provenance and nesting") {
    val a = (1L to 1000L).map(i => (i, s"doc a $i")).toDF("id", "body")
    val b = (1L to 400L).map(i => (i, s"doc b $i")).toDF("id", "body")
    val mix = TrainingData.mixCorpora(
      Seq(("web", a, 30), ("books", b, 100)), "id", "body")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySource = mix.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySource("books") == 400) // 100%: kept whole
    assert(math.abs(bySource("web") / 1000.0 - 0.30) < 0.05)
    // re-weighting upward is a superset of the old contribution
    val web50 = TrainingData.mixCorpora(Seq(("web", a, 50)), "id", "body")
      .collect().map(_.getLong(1)).toSet
    val web30 = mix.filter(_._1 == "web").map(_._2).toSet
    assert(web30.subsetOf(web50))
    intercept[IllegalArgumentException](
      TrainingData.mixCorpora(Seq(("x", a, 10), ("x", b, 10)), "id", "body"))
  }

  test("mixCorporaBy unifies sources whose id/text columns are named differently") {
    val a = (1L to 100L).map(i => (i, s"doc a $i")).toDF("id", "body")
    val b = (1L to 100L).map(i => (i, s"doc b $i")).toDF("doc_key", "content")
    val mix = TrainingData.mixCorporaBy(
      Seq(("web", a, 100, "id", "body"), ("books", b, 100, "doc_key", "content")))
    assert(mix.columns.toSeq == Seq("source", "id", "text"))
    val bySource = mix.collect().groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(bySource == Map("web" -> 100, "books" -> 100))
    // same name+id+percent sample regardless of the source column names:
    // the selector must not leak into the hash
    val viaRename = TrainingData.mixCorpora(Seq(
      ("books", b.withColumnRenamed("doc_key", "id")
        .withColumnRenamed("content", "text"), 37)), "id", "text")
      .collect().map(_.getLong(1)).toSet
    val direct = TrainingData.mixCorporaBy(Seq(("books", b, 37, "doc_key", "content")))
      .collect().map(_.getLong(1)).toSet
    assert(direct == viaRename)
  }

  test("topBigrams counts adjacent pairs across the corpus") {
    val top = TrainingData.topBigrams(corpus, "body", 4).collect()
    // docs 10, 11, 12 share "the cat", "cat sat", "sat on", "on the" → 3 each
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("cat sat", 3L), ("on the", 3L), ("sat on", 3L), ("the cat", 3L)))
  }

  test("spanDedup removes every span occurrence after the corpus-wide first") {
    val docs = Seq(
      (1L, "a b c d e f"),        // spans: "a b c", "d e f"
      (2L, "a b c x y z"),        // "a b c" is a dup of doc 1's → removed
      (3L, "d e f"),              // whole doc is a dup span → empty
      (4L, "g h"),                // one short span, unique
      (5L, "")).toDF("id", "body") // empty doc: 0 spans
    val out = TrainingData.spanDedup(docs, "id", "body", 3)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out === Array(
      (1L, "a b c d e f", 2L, 2L),
      (2L, "x y z", 2L, 1L),
      (3L, "", 1L, 0L),
      (4L, "g h", 1L, 1L),
      (5L, "", 0L, 0L)))
  }

  test("spanDedup keeps the earliest occurrence also within one document") {
    val docs = Seq((7L, "p q r p q r s t u")).toDF("id", "body")
    val out = TrainingData.spanDedup(docs, "id", "body", 3).collect()
    // spans: "p q r", "p q r", "s t u" → the second "p q r" is removed
    assert(out.head.getString(1) == "p q r s t u")
    assert(out.head.getLong(2) == 3L && out.head.getLong(3) == 2L)
  }

  test("capPerKey keeps the orderCol-least n rows per key") {
    val rows = Seq(
      ("s1", 3L), ("s1", 1L), ("s1", 2L), ("s1", 4L),
      ("s2", 9L),
      ("s3", 5L), ("s3", 6L)).toDF("src", "id")
    val out = TrainingData.capPerKey(rows, "src", "id", 2)
      .as[(String, Long)].collect().toSet
    assert(out == Set(("s1", 1L), ("s1", 2L), ("s2", 9L), ("s3", 5L), ("s3", 6L)))
    assert(TrainingData.capPerKey(rows, "src", "id", 2).columns.toSeq ==
      Seq("src", "id")) // the helper column does not leak
  }

  test("normalizeText collapses whitespace, trims, and lowercases") {
    val docs = Seq((1L, "  The   CAT\t\n sat  "), (2L, "")).toDF("id", "body")
    val out = TrainingData.normalizeText(docs, "id", "body")
      .orderBy("id").as[(Long, String)].collect()
    assert(out === Array((1L, "the cat sat"), (2L, "")))
  }

  test("saveJsonl round-trips through gzip shards with the requested count") {
    val out = java.nio.file.Files.createTempDirectory("jsonl").toString
    TrainingData.saveJsonl(corpus, out, numShards = 3)
    val shards = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(shards.length == 3)
    val back = spark.read.json(out)
    assert(back.count() == corpus.count())
    assert(back.columns.sorted.sameElements(corpus.columns.sorted))
    // row-level fidelity (the empty-string doc drops to a missing field
    // in JSON — read back as null, the documented JSON-source semantics)
    val got = back.select(col("id"), coalesce(col("body"), lit("")))
      .as[(Long, String)].collect().toSet
    val src = corpus.as[(Long, String)].collect().toSet
    assert(got == src)
  }

  test("packedBins manifest conserves docs and tokens, ids in layout order") {
    val asg = TrainingData.packSequences(corpus, "id", "body", 10L)
    val bins = TrainingData.packedBins(asg).orderBy("bin").collect()
    assert(bins.map(_.getLong(1)).sum == asg.count())
    assert(bins.map(_.getLong(2)).sum ==
      asg.agg(sum("n_tokens")).collect().head.getLong(0))
    val laidOut = bins.flatMap(_.getSeq[Long](3))
    // id tie-break: zero-token docs tie on start_off and an unordered
    // sort would make `expected` nondeterministic
    val expected = asg.orderBy(col("start_off"), col("id"))
      .select("id").as[Long].collect()
    assert(laidOut.sameElements(expected)) // concatenation order preserved
  }

  test("weightedHashSample keeps by per-row probability: 0 drops, 1 keeps, nested") {
    val rows = spark.range(0, 400)
      .select(col("id"), ((col("id") % 5) / lit(4.0)).as("w")) // 0, .25, .5, .75, 1
    def keptIds(df: org.apache.spark.sql.DataFrame) =
      TrainingData.weightedHashSample(df, "id", "w")
        .select("id").as[Long].collect().toSet
    val kept = keptIds(rows)
    assert(rows.filter(col("w") === 0.0).select("id").as[Long].collect()
      .forall(!kept.contains(_))) // weight 0 never kept
    assert(rows.filter(col("w") === 1.0).select("id").as[Long].collect()
      .forall(kept.contains)) // weight 1 always kept (u < 1 by construction)
    // nested: raising every weight only ever ADDS rows
    val raised = rows.select(col("id"), least(lit(1.0), col("w") + 0.25).as("w"))
    assert(kept.subsetOf(keptIds(raised)))
    assert(keptIds(rows) == kept) // deterministic across evaluations
  }

  test("mixByTokenBudget hits token targets in expectation, nested in the budget") {
    // 200 docs in two sources, ~10 tokens each ⇒ source totals ≈ 1000
    val docs = spark.range(0, 200).select(
      col("id"),
      when(col("id") % 2 === 0, "web").otherwise("code").as("src"),
      lit("a b c d e f g h i j").as("body"))
    def mix(budget: Long) = TrainingData.mixByTokenBudget(
      docs, "src", "id", "body", Map("web" -> 0.8, "code" -> 0.2), budget)
    val kept = mix(500L)
    // targets: web 400 of ~1000 (p≈0.4), code 100 of ~1000 (p≈0.1);
    // deterministic, so the loose 3σ-style bounds either always hold or
    // never do
    val byShare = kept.groupBy(col("src")).agg(sum(col("n_tokens")).as("tk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byShare.getOrElse("web", 0L) > 150 && byShare("web") < 650, byShare.toString)
    assert(byShare.getOrElse("code", 0L) > 10 && byShare("code") < 250, byShare.toString)
    // nested: a larger budget keeps a superset (same coordinate, higher p)
    val small = kept.select("id").as[Long].collect().toSet
    val large = mix(1500L).select("id").as[Long].collect().toSet
    assert(small.subsetOf(large))
    // a source with no weight contributes nothing
    val only = TrainingData.mixByTokenBudget(
      docs, "src", "id", "body", Map("web" -> 1.0), 10000L)
    assert(only.filter(col("src") === "code").count() == 0)
    // weight 1 × budget ≥ total ⇒ the whole source is kept (p caps at 1)
    assert(only.filter(col("src") === "web").count() == 100)
  }

  test("mixByTokenBudgetReplicated upsamples past one epoch, agrees with the capped mix below") {
    val docs = spark.range(0, 100).select(
      col("id"),
      when(col("id") % 2 === 0, "wiki").otherwise("web").as("src"),
      lit("a b c d e f g h i j").as("body")) // 500 tokens per source
    // wiki target 1500 of 500 ⇒ p = 3: every doc exactly 3 epochs
    // web target 250 of 500 ⇒ p = 0.5: downsampled, epoch 0 only
    val out = TrainingData.mixByTokenBudgetReplicated(
      docs, "src", "id", "body", Map("wiki" -> 0.75, "web" -> 0.125), 2000L)
    val wiki = out.filter(col("src") === "wiki")
    assert(wiki.count() == 150) // 50 docs × exactly 3 copies (frac(p) = 0)
    assert(wiki.groupBy(col("id")).count().filter(col("count") =!= 3).count() == 0)
    assert(wiki.agg(max(col("epoch"))).first().getLong(0) == 2)
    val web = out.filter(col("src") === "web")
    assert(web.agg(max(col("epoch"))).first().getLong(0) == 0)
    // below one epoch the replicated form keeps EXACTLY the capped mix's ids
    val capped = TrainingData.mixByTokenBudget(
        docs, "src", "id", "body", Map("web" -> 0.125), 2000L)
      .select("id").as[Long].collect().toSet
    assert(web.select("id").as[Long].collect().toSet == capped)
  }

  test("mixByTemperature: α endpoints and the exact sqrt midpoint behave as specified") {
    // skewed corpus: big = 160 docs × 10 tokens (1600), small = 40 × 10 (400)
    val docs = spark.range(0, 200).select(
      col("id"),
      when(col("id") < 160, "big").otherwise("small").as("src"),
      lit("a b c d e f g h i j").as("body"))
    def tokensBySrc(alpha: Double, budget: Long): Map[String, Long] =
      TrainingData.mixByTemperature(docs, "src", "id", "body", alpha, budget)
        .groupBy(col("src")).agg(sum(col("n_tokens")).as("tk"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // α = 0: equal token share per source. budget 800 ⇒ 400 each: the
    // small source's p = 800/(2·400) = 1 EXACTLY (frac 0 ⇒ one epoch,
    // every doc) while the big source downsamples at p = 0.25
    val eq = tokensBySrc(0.0, 800L)
    assert(eq("small") == 400L, eq.toString)
    assert(eq("big") > 150L && eq("big") < 650L, eq.toString)
    // α = 1: the natural distribution — every document keeps with the
    // same p = budget/total = 0.5 regardless of source
    val nat = tokensBySrc(1.0, 1000L)
    assert(nat("big") > 500L && nat("big") < 1100L, nat.toString)
    assert(nat("small") > 80L && nat("small") < 320L, nat.toString)
    // α = 0.5 (the sqrt path): rt = (40, 20), Σ = 60 ⇒ the small source's
    // per-doc p is exactly 2× the big source's; budget 4800 lands both on
    // INTEGER p (small 4, big 2) — replication is exact, no sampling at all
    val temp = TrainingData.mixByTemperature(docs, "src", "id", "body", 0.5, 4800L)
    val copies = temp.groupBy(col("src"), col("id")).count()
    assert(copies.filter(col("src") === "small" && col("count") =!= 4).count() == 0)
    assert(copies.filter(col("src") === "big" && col("count") =!= 2).count() == 0)
    assert(temp.agg(max(col("epoch"))).first().getLong(0) == 3)
    // deterministic across evaluations; input schema + n_tokens + epoch
    assert(temp.columns.toSeq == Seq("id", "src", "body", "n_tokens", "epoch"))
    assert(tokensBySrc(0.5, 999L) == tokensBySrc(0.5, 999L))
    // guard rails: α outside [0,1] and helper-column collisions reject
    intercept[IllegalArgumentException](
      TrainingData.mixByTemperature(docs, "src", "id", "body", 1.5, 100L))
    intercept[IllegalArgumentException](
      TrainingData.mixByTemperature(docs.withColumn("rt", lit(1)),
        "src", "id", "body", 0.5, 100L))
  }

  test("topFractionByStrata exact=false stays within the GK sketch's rank-error bound") {
    // the bounded-memory path (approx_percentile) is the one that
    // survives billions of distinct scores per stratum; assert its kept
    // set differs from the exact path only inside the sketch's rank-error
    // band around the true cutoff (default accuracy 10000 ⇒ rank error
    // ≤ n/10000 = 2 ranks per 20k-row stratum; scores here are dense
    // integers, so rank distance == score distance)
    val rows = spark.range(0, 40000).select(
      (col("id") % 2).cast("string").as("lang"), col("id").as("score"))
    def kept(exact: Boolean) =
      TrainingData.topFractionByStrata(rows, "lang", "score", 0.3, exact)
        .select("score").as[Long].collect().toSet
    val e = kept(true)
    val a = kept(false)
    val diff = (e diff a) union (a diff e)
    assert(diff.size <= 8, s"symmetric difference too large: ${diff.size}")
    val cutoffs = rows.groupBy(col("lang"))
      .agg(expr("percentile(score, 0.7)").as("c"))
      .select("c").as[Double].collect()
    diff.foreach { s =>
      assert(cutoffs.exists(c => math.abs(s - c) <= 5.0),
        s"score $s outside the rank-error band of cutoffs ${cutoffs.toSeq}")
    }
  }

  test("weightedHashSample composes independently with hashSample (salted coordinate)") {
    // an UNsalted unit coordinate reuses hashBucket's 16 hash bits, so
    // weightedHashSample(w=0.2) would keep exactly hashSample(20%)'s rows
    // (min/overlap semantics); the '#w' salt makes the two stages
    // near-independent — chaining them keeps ≈ the 4% product
    val ids = spark.range(0, 2000).toDF("id")
    val bucket20 = TrainingData.hashSample(ids, "id", 20)
      .select("id").as[Long].collect().toSet
    val w02 = TrainingData.weightedHashSample(
        ids.withColumn("w", lit(0.2)), "id", "w")
      .select("id").as[Long].collect().toSet
    assert(w02 != bucket20)
    val inter = (w02 & bucket20).size.toDouble
    // independent 20%×20% of 2000 ids ⇒ ≈80 shared; shared-coordinate
    // semantics would give inter == |w02| — assert we're far from that
    assert(inter < 0.5 * math.min(w02.size, bucket20.size),
      s"inter=$inter w02=${w02.size} bucket20=${bucket20.size}")
  }

  test("chunkDocuments cuts overlapping context windows, final window short") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, "")).toDF("id", "body")
    val out = TrainingData.chunkDocuments(docs, "id", "body", 4, 3)
      .orderBy("id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out === Array(
      (1L, 0L, "a b c d", 4L), // tokens 1-4
      (1L, 1L, "d e f g", 4L), // tokens 4-7 (overlap of 1)
      (1L, 2L, "g", 1L),       // final short window
      (2L, 0L, "x", 1L)))      // empty doc 3 → no chunks
  }

  test("dedupAgainstCorpus drops increment rows whose content the corpus has") {
    val corpus = Seq((1L, "seen before"), (2L, "also seen")).toDF("id", "body")
    val increment = Seq(
      (10L, "brand new"), (11L, "seen before"), (12L, "another new"),
      (13L, "brand new")) // in-increment dup: both kept by design
      .toDF("id", "body")
    val out = TrainingData.dedupAgainstCorpus(increment, corpus, "body")
      .select("id").as[Long].collect().toSet
    assert(out == Set(10L, 12L, 13L))
  }

  test("zValue interleaves bits: x on even positions, y on odd") {
    val out = Seq((5L, 3L), (0L, 0L), (65535L, 0L), (0L, 65535L))
      .toDF("x", "y")
      .select(TrainingData.zValue(col("x"), col("y"), 16).as("z"))
      .as[Long].collect()
    // x=0b101 → bits 0,4; y=0b011 → bits 1,3 ⇒ 1+16+2+8 = 27
    assert(out(0) == 27L)
    assert(out(1) == 0L)
    // 16 one-bits spread to even positions = 0b0101...01 (32 bits)
    assert(out(2) == java.lang.Long.parseLong("0101" * 8, 2))
    assert(out(3) == java.lang.Long.parseLong("1010" * 8, 2))
  }

  test("saveZOrdered writes z-range-disjoint files (multi-dim clustering)") {
    val out = java.nio.file.Files.createTempDirectory("zord").toString
    val rows = spark.range(0, 1000)
      .select(col("id"), (col("id") % 37).as("x"), (col("id") % 53).as("y"))
    TrainingData.saveZOrdered(rows, out, "x", "y", bits = 8, numFiles = 4)
    val back = spark.read.parquet(out)
    assert(back.count() == 1000)
    val ranges = back
      .withColumn("z", TrainingData.zValue(col("x"), col("y"), 8))
      .groupBy(input_file_name().as("f"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .orderBy(col("lo"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length > 1) // the clustering actually split the data
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"file z-ranges overlap: $ranges")
    }
  }

  test("saveShuffled writes the content-addressed permutation, stable across writes") {
    // reference coordinate, recomputed independently of the library: the
    // 16-bit value of sha256(id + "#shuf")'s first 4 hex chars
    def coord(id: Long): Int =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$id#shuf".getBytes("UTF-8")).take(2)
        .foldLeft(0)((a, b) => (a << 8) | (b & 0xff))
    val rows = spark.range(0, 400).select(col("id"), (col("id") * 2).as("v"))
    val expected = (0L until 400L).sortBy(i => (coord(i), i)).toSeq
    // per-shard ROW LISTS, shards in directory-name order: membership is
    // a pure function of the coordinate (not sampled boundaries), so the
    // whole structure — not just the concatenation — must be run-stable
    def writeAndRead(): Seq[(String, Seq[Long])] = {
      val out = java.nio.file.Files.createTempDirectory("shuf").toString
      TrainingData.saveShuffled(rows, "id", out, numShards = 4)
      val shardDirs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__shard="))
        .map(_.toString).sorted
      shardDirs.toSeq.map(dir => dir.split('=').last ->
        spark.read.parquet(dir).select("id").as[Long].collect().toSeq)
    }
    val got = writeAndRead()
    // expected shard split: equal-width ranges of the 16-bit coordinate
    val expectedShards = expected.groupBy(i => coord(i) * 4 / 65536).toSeq
      .sortBy(_._1).map { case (s, ids) => f"$s%05d" -> ids }
    assert(got == expectedShards) // membership AND in-shard order, per shard
    val flat = got.flatMap(_._2)
    assert(flat == expected) // streaming shards in name order = the permutation
    assert(flat != flat.sorted) // and it actually shuffles
    assert(writeAndRead() == got) // the whole shard structure is run-stable
  }

  test("saveShuffled → saveJsonl → re-read reproduces the dataloader order on the fixture corpus") {
    // the gate-scale loop-closer: the full sf0.01 documents table through
    // shuffle layout → per-shard JSONL export → re-read, compared against
    // an INDEPENDENT recomputation of the permutation — if this holds,
    // a dataloader streaming the exported shards in name order sees
    // exactly the content-addressed shuffle, byte-for-byte text included
    def coord(id: Long): Int =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$id#shuf".getBytes("UTF-8")).take(2)
        .foldLeft(0)((a, b) => (a << 8) | (b & 0xff))
    val docs = graft.Tables.t(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val out = java.nio.file.Files.createTempDirectory("shuf_rt").toString
    TrainingData.saveShuffled(docs, "doc_id", out, numShards = 8)
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__shard="))
      .map(_.toString).sorted
    assert(shardDirs.nonEmpty)
    // export each shard to JSONL keeping its internal order (one parquet
    // file per shard → one task → one .json.gz), then stream them back
    // in shard-name order; a single gzip member reads as one partition,
    // so file order IS row order
    val got = shardDirs.toSeq.flatMap { sd =>
      val jd = java.nio.file.Files.createTempDirectory("shuf_jsonl").toString
      TrainingData.saveJsonl(spark.read.parquet(sd), jd)
      val files = new java.io.File(jd).listFiles()
        .filter(_.getName.endsWith(".json.gz")).map(_.toString).sorted
      assert(files.length == 1, s"expected one jsonl shard in $jd")
      spark.read.json(files.head)
        .select(col("doc_id"), coalesce(col("text"), lit("")))
        .as[(Long, String)].collect().toSeq
    }
    // same null→"" coalesce on BOTH sides: a NULL text drops to a missing
    // JSON field (read back null), and the expected side must normalize
    // identically or a fixture null would fail the comparison spuriously
    val expected = docs.select(col("doc_id"), coalesce(col("text"), lit("")))
      .as[(Long, String)].collect()
      .sortBy { case (id, _) => (coord(id), id) }.toSeq
    assert(got == expected)
  }

  test("redactPii counts match the placeholders actually inserted, overlaps included") {
    val docs = Seq(
      (1L, "see https://x.com/a@b.com or https://y.com/1234"), // email+digits INSIDE urls
      (2L, "card 12345678 and mail a@b.co")).toDF("id", "body")
    val out = TrainingData.redactPii(docs, "id", "body")
      .orderBy("id").as[(Long, String, Long)].collect()
    assert(out(0)._2 == "see <URL> or <URL>")
    assert(out(0)._3 == 2L) // NOT 4: the swallowed email/digits don't count
    assert(out(1)._2 == "card <NUM> and mail <EMAIL>" && out(1)._3 == 2L)
  }

  test("mixByTokenBudget drops tokenless and weight-0 sources instead of keeping them") {
    val docs = Seq(
      (1L, "web", "a b c d"), (2L, "web", "e f g h"),
      (3L, "empty", ""), (4L, "empty", "   "),
      (5L, "unlisted", "i j k l")).toDF("id", "src", "body")
    val kept = TrainingData.mixByTokenBudget(
        docs, "src", "id", "body", Map("web" -> 1.0, "empty" -> 1.0), 1000L)
      .select("id").as[Long].collect().toSet
    // web: p = 1 keeps both; empty: tot = 0 -> dropped (was: NULL division
    // made least() skip and keep EVERYTHING, unlisted included)
    assert(kept == Set(1L, 2L))
    val keptRep = TrainingData.mixByTokenBudgetReplicated(
        docs, "src", "id", "body", Map("web" -> 1.0, "empty" -> 1.0), 1000L)
      .select("id").as[Long].collect().toSet
    assert(keptRep.subsetOf(Set(1L, 2L)) && keptRep.nonEmpty)
  }

  test("deterministicSplit drops NULL ids instead of assigning them to the last split") {
    val docs = Seq(Option(1L), Option(2L), Option.empty[Long]).toDF("id")
    val out = TrainingData.deterministicSplit(docs, "id",
      Seq(("train", 90), ("test", 10)))
    assert(out.count() == 2 && out.filter(col("id").isNull).count() == 0)
  }

  test("capPerKey never lets NULL order values consume the cap") {
    val rows = Seq(("d", Option.empty[Long], 1L), ("d", Option(5L), 2L),
      ("d", Option(3L), 3L), ("d", Option.empty[Long], 4L))
      .toDF("k", "ord", "id")
    val kept = TrainingData.capPerKey(rows, "k", "ord", 2)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L)) // the two ordered rows, not the NULLs
  }

  test("redactPii replaces emails, urls, and digit runs with placeholders") {
    val docs = Seq(
      (1L, "mail me at jo.doe+x@ex-ample.org today"),
      (2L, "see https://ex.org/a?b=1 and card 12345678"),
      (3L, "clean text no pii")).toDF("id", "body")
    val out = TrainingData.redactPii(docs, "id", "body")
      .orderBy("id").as[(Long, String, Long)].collect()
    assert(out === Array(
      (1L, "mail me at <EMAIL> today", 1L),
      (2L, "see <URL> and card <NUM>", 2L),
      (3L, "clean text no pii", 0L)))
  }

  test("redactPii stops URL matches at whitespace, not just space") {
    // regression: `[^ ]+` swallowed the newline and the next line's
    // leading text when a URL sat at end-of-line
    val docs = Seq(
      (1L, "line one https://ex.org/a\nline two stays"),
      (2L, "tabbed https://ex.org/b\tafter")).toDF("id", "body")
    val out = TrainingData.redactPii(docs, "id", "body")
      .orderBy("id").as[(Long, String, Long)].collect()
    assert(out === Array(
      (1L, "line one <URL>\nline two stays", 1L),
      (2L, "tabbed <URL>\tafter", 1L)))
  }

  test("gopherRules: keep is exactly the conjunction of no-flag, custom thresholds honored") {
    val docs = Seq(
      (1L, "the cat and dog of to in ran around the block all day long"),
      (2L, "x"), // too short
      (3L, ""), // zero tokens: every rule flags
      (4L, "the " + ("pneumonoultramicroscopic " * 12) + "of")) // long words
      .toDF("id", "body")
    val out = TrainingData.gopherRules(docs, "id", "body",
        minTokens = 3, maxTokens = 50, minMeanWordLen = 2.0,
        maxMeanWordLen = 8.0, minAlphaRatio = 0.5, minStopHits = 2)
      .orderBy("doc_id").collect()
    out.foreach { r =>
      val flags = (5 to 8).map(r.getBoolean)
      assert(r.getBoolean(9) == !flags.exists(identity))
    }
    val byId = out.map(r => r.getLong(0) ->
      (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8))).toMap
    assert(byId(1L) == ((false, false, false, false))) // keeper
    assert(byId(2L)._1) // r_len on the short doc
    assert(byId(3L) == ((true, true, true, true))) // zero tokens flags all
    assert(byId(4L)._2) // r_wordlen on the long-word doc
  }

  test("difficultyBuckets: monotone in score, schema preserved, nBuckets respected") {
    val scores = (1 to 40).map(i => (i.toLong, i * 1.5)).toDF("id", "s")
    val out = TrainingData.difficultyBuckets(scores, "s", 5)
    assert(out.columns.sameElements(Array("id", "s", "bucket")))
    val rows = out.orderBy("s").collect().map(r => (r.getDouble(1), r.getInt(2)))
    assert(rows.map(_._2).min == 1 && rows.map(_._2).max == 5)
    // non-decreasing bucket along increasing score
    rows.sliding(2).foreach { case Array((_, b1), (_, b2)) => assert(b1 <= b2) }
    // equal scores share a bucket (threshold semantics)
    val tied = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 9.0)).toDF("id", "s")
    val tiedB = TrainingData.difficultyBuckets(tied, "s", 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(tiedB(1L) == tiedB(2L) && tiedB(2L) == tiedB(3L))
  }

  test("spanCorrupt is lossless: substituting targets back reconstructs the doc") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.Tables.t(spark, d, "documents")
    val out = TrainingData.spanCorrupt(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSeq
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).mkString(" ")).toMap
    assert(out.nonEmpty && out.exists(_._3 > 0))
    out.foreach { case (id, nToks, nSpans, input, target) =>
      // parse target into sentinel -> span-content map
      val spanRe = "<extra_id_(\\d+)>".r
      val parts = spanRe.split(target).map(_.trim) // first elem is ""
      val keys = spanRe.findAllMatchIn(target).map(_.group(1).toInt).toSeq
      assert(keys.length == nSpans && parts.tail.length == nSpans, s"doc $id")
      // T5 convention: sentinels are 0-based and contiguous by span ordinal
      assert(keys == (0 until nSpans), s"doc $id sentinel numbering")
      val spans = keys.zip(parts.tail).toMap
      val rebuilt = input.split(" ").filter(_.nonEmpty).toSeq.flatMap {
        case spanRe(k) => spans(k.toInt).split(" ").toSeq
        case tok => Seq(tok)
      }.mkString(" ")
      assert(rebuilt == orig(id), s"doc $id reconstruction")
      assert(nToks == orig(id).split(" ").count(_.nonEmpty), s"doc $id n_toks")
    }
    // deterministic: a second run is byte-identical
    val again = TrainingData.spanCorrupt(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSeq
    assert(again.toSet == out.toSet)
  }

  test("turnLossMasks: contiguous offsets, dense turn indices, role masking") {
    val turns = Seq(
      (1L, 1L, 10L, "user", "hello there"),
      (1L, 2L, 11L, "assistant", "hi"),
      (1L, 2L, 12L, "user", "same ts needs the id tiebreak"),
      (2L, 5L, 20L, "assistant", "a b c")
    ).toDF("conv", "t", "id", "role", "text")
    val out = TrainingData.turnLossMasks(
        turns, "conv", Seq("t", "id"), "role", "text", Seq("assistant"))
      .orderBy("conv_id", "turn_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(out.toSeq == Seq(
      (1L, 1, "user", 2L, 0L, 2L, false),
      (1L, 2, "assistant", 1L, 2L, 3L, true),
      (1L, 3, "user", 6L, 3L, 9L, false),
      (2L, 1, "assistant", 3L, 0L, 3L, true)))
    // invariants on the fixture-scale output: per conversation, offsets
    // tile the token stream with no gaps and indices are dense from 1
    val fx = graft.ops.Windows.x54TurnMasks(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    fx.groupBy(_._1).values.foreach { conv =>
      val sorted = conv.sortBy(_._2)
      assert(sorted.head._2 == 1 && sorted.last._2 == sorted.length)
      sorted.foldLeft(0L) { case (expStart, (_, _, n, s0, e0, _)) =>
        assert(s0 == expStart && e0 == s0 + n); e0
      }
    }
  }

  test("ul2Mixture is lossless per denoiser and mixes all three objectives") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.Tables.t(spark, d, "documents")
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq).toMap
    val out = TrainingData.ul2Mixture(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getString(4)))
    assert(out.map(_._2).toSet == Set("R", "S", "X")) // the mixture mixes
    val spanRe = "<extra_id_(\\d+)>".r
    out.foreach { case (id, den, nToks, input, target) =>
      val toks = orig(id)
      assert(nToks == toks.length, s"doc $id n_toks")
      assert(input.startsWith(s"[$den] ") || input == s"[$den]", s"doc $id mode token")
      val body = input.drop(s"[$den]".length).trim
      den match {
        case "S" =>
          // prefix <extra_id_0> | <extra_id_0> suffix reassembles the doc
          assert(body.endsWith("<extra_id_0>") && target.startsWith("<extra_id_0>"))
          val prefix = body.stripSuffix("<extra_id_0>").trim
            .split(" ").filter(_.nonEmpty).toSeq
          val suffix = target.stripPrefix("<extra_id_0>").trim
            .split(" ").filter(_.nonEmpty).toSeq
          assert(prefix ++ suffix == toks, s"doc $id S reconstruction")
        case _ =>
          // R/X: substituting targets back reconstructs, sentinels 0-based
          val parts = spanRe.split(target).map(_.trim)
          val keys = spanRe.findAllMatchIn(target).map(_.group(1).toInt).toSeq
          assert(keys == keys.indices.toSeq, s"doc $id sentinel numbering")
          val spans = keys.zip(parts.tail).toMap
          val rebuilt = body.split(" ").filter(_.nonEmpty).toSeq.flatMap {
            case spanRe(k) => spans(k.toInt).split(" ").toSeq
            case tok => Seq(tok)
          }
          assert(rebuilt == toks, s"doc $id $den reconstruction")
          // X corrupts more aggressively than R would on the same doc:
          // period 4 masks >= the period-7 cadence in expectation — check
          // the corruption RATE is in the right regime instead of exact
          if (den == "X" && nToks >= 20)
            assert(keys.nonEmpty, s"doc $id X should corrupt")
      }
    }
    // determinism: a second run is byte-identical
    val again = TrainingData.ul2Mixture(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getString(4)))
    assert(again.toSet == out.toSet)
  }

  test("fimTransform is lossless: prefix+middle+suffix reassemble the doc") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.Tables.t(spark, d, "documents")
    val orig = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq).toMap
    val out = TrainingData.fimTransform(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(out.nonEmpty)
    // all three segment shapes occur across the corpus
    assert(out.exists(r => r._3 == 0 || r._4 == r._2) &&
      out.exists(r => r._3 > 0 && r._4 < r._2 && r._4 > r._3))
    out.foreach { case (id, n, c1, c2, fim) =>
      val toks = orig(id)
      assert(n == toks.length && 0 <= c1 && c1 <= c2 && c2 <= n, s"doc $id cuts")
      val ps = fim.indexOf("<fim_prefix>")
      val ss = fim.indexOf("<fim_suffix>")
      val ms = fim.indexOf("<fim_middle>")
      assert(ps == 0 && ss > ps && ms > ss, s"doc $id sentinel order")
      def seg(s: String) = s.trim.split(" ").filter(_.nonEmpty).toSeq
      val prefix = seg(fim.substring(ps + 12, ss))
      val suffix = seg(fim.substring(ss + 12, ms))
      val middle = seg(fim.substring(ms + 12))
      assert(prefix ++ middle ++ suffix == toks, s"doc $id reconstruction")
      assert(prefix.length == c1 && middle.length == c2 - c1, s"doc $id cut lengths")
    }
  }

  test("objective transforms accept arbitrary id/text column names") {
    // regression: fimTransform once referenced col(idCol) after renaming
    // it to doc_id, so any id column not literally named doc_id threw
    // UNRESOLVED_COLUMN — the parametric contract every op promises
    val docs = Seq((7L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("my_id", "my_body")
    val fim = TrainingData.fimTransform(docs, "my_id", "my_body").collect()
    assert(fim.length == 1 && fim(0).getInt(1) == 8)
    val sc = TrainingData.spanCorrupt(docs, "my_id", "my_body").collect()
    assert(sc.length == 1 && sc(0).getInt(1) == 8)
    val gr = TrainingData.gopherRules(docs, "my_id", "my_body").collect()
    assert(gr.length == 1)
  }

  test("knnGraph and ivfAppend parametric forms agree with the fixture bindings") {
    val d = "/root/testdata/sf0.01"
    val e = graft.Tables.t(spark, d, "embeddings")
    val para = TrainingData.knnGraph(e, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSet
    val fixture = graft.ops.VectorOps.x27gKnnGraph(spark, d)
      .collect().map(_.toSeq).toSet
    assert(para == fixture)
    val paraApp = TrainingData.ivfAppend(
        e.filter(col("vec_id") % 5 =!= 0), e.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding")
      .collect().map(_.toSeq).toSet
    val fixApp = graft.ops.VectorOps.x45IvfAppend(spark, d)
      .collect().map(_.toSeq).toSet
    assert(paraApp == fixApp)
  }

  test("pmiCollocations ranks a true phrase above a chance co-occurrence") {
    // "new york" always co-occurs; "the" is everywhere so "the cat"
    // co-occurs often but only at chance rate
    val docs = Seq(
      (1L, "the cat visited new york and the dog visited new york"),
      (2L, "new york is where the cat and the dog live"),
      (3L, "the cat saw the dog in new york"),
      (4L, "the dog and the cat left new york")).toDF("id", "body")
    val got = TrainingData.pmiCollocations(docs, "id", "body",
        minCount = 2L, k = 100)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // Scala model of the same arithmetic for one pair
    val toks = docs.collect().flatMap(_.getString(1).split(" ")).filter(_.nonEmpty)
    val bigrams = docs.collect().flatMap(
      _.getString(1).split(" ").filter(_.nonEmpty).sliding(2).filter(_.size == 2)
        .map(a => (a(0), a(1))).toSeq)
    def pmiModel(w1: String, w2: String): Long = {
      val c12 = bigrams.count(_ == ((w1, w2))).toDouble
      val bb = bigrams.length.toDouble
      val tt = toks.length.toDouble
      val c1 = toks.count(_ == w1).toDouble
      val c2 = toks.count(_ == w2).toDouble
      math.round((math.log(c12 / bb) - math.log(c1 / tt) - math.log(c2 / tt)) * 1e6)
    }
    assert(got(("new", "york"))._2 == pmiModel("new", "york"))
    assert(got(("the", "cat"))._2 == pmiModel("the", "cat"))
    assert(got(("new", "york"))._2 > got(("the", "cat"))._2)
    // minCount floors: a 1-occurrence pair is absent at minCount=2
    assert(!got.contains(("cat", "visited")))
  }

  test("termBurstiness: a concentrated term out-scores an evenly spread one") {
    // both terms have total tf 4 over N=4 docs; "burst" piles into one
    // doc (VMR = (4·16−16)/(4·4) = 3.0), "even" spreads 1 per doc
    // (VMR = (4·4−16)/(4·4) = 0.0)
    val docs = Seq(
      (1L, "burst burst burst burst even filler"),
      (2L, "even filler pad"),
      (3L, "even filler pad"),
      (4L, "even filler pad")).toDF("id", "body")
    val got = TrainingData.termBurstiness(docs, "id", "body", minDf = 1L, k = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("burst") == ((1L, 4L, 3.0)))
    assert(got("even") == ((4L, 4L, 0.0)))
    assert(got("burst")._3 > got("filler")._3)
    // minDf floors: df-1 terms vanish at minDf=2
    val floored = TrainingData.termBurstiness(docs, "id", "body", minDf = 2L, k = 10)
      .collect().map(_.getString(0)).toSet
    assert(!floored.contains("burst") && floored.contains("even"))
  }

  test("skipgramPmi catches a distance association adjacent PMI can't see") {
    // "doctor" and "patient" always co-occur at distance 3 — never
    // adjacent — so pmiCollocations can't rank them but skipgramPmi must
    val docs = Seq(
      (1L, "the doctor saw the patient today ok fine"),
      (2L, "a doctor met this patient in town again"),
      (3L, "one doctor and the patient talked more here"),
      (4L, "filler words without the pair at all here")
    ).toDF("id", "body")
    val sg = TrainingData.skipgramPmi(docs, "id", "body",
        window = 4, minCount = 2L, k = 200)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(sg.contains(("doctor", "patient")) && sg(("doctor", "patient"))._1 == 3L)
    val adj = TrainingData.pmiCollocations(docs, "id", "body",
        minCount = 2L, k = 200)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!adj.contains(("doctor", "patient")) && !adj.contains(("patient", "doctor")))
    // exact model for the one pair: unordered within-4 pairs vs margins
    val texts = docs.collect().map(_.getString(1))
    val allToks = texts.flatMap(_.split(" ").filter(_.nonEmpty))
    val pairs = texts.flatMap { t =>
      val tk = t.split(" ").filter(_.nonEmpty)
      for { i <- tk.indices; j <- (i + 1) to math.min(i + 4, tk.length - 1) }
        yield if (tk(i) <= tk(j)) (tk(i), tk(j)) else (tk(j), tk(i))
    }
    val n = pairs.count(_ == (("doctor", "patient"))).toDouble
    val exp = math.round((math.log(n / pairs.length)
      - math.log(allToks.count(_ == "doctor").toDouble / allToks.length)
      - math.log(allToks.count(_ == "patient").toDouble / allToks.length)) * 1e6)
    assert(sg(("doctor", "patient"))._2 == exp)
    // a token can pair with itself ("the ... the") and stays ordered
    assert(sg.keySet.forall { case (a, b) => a <= b })
  }

  test("ksDrift: exact sup-norm vs a Scala model; identical stratum scores ~0") {
    // strata: a = {1,1,2}, b = {2,3,3,3}, c mirrors the pooled corpus
    // shape exactly twice — its CDF still differs from the global
    // (which includes a and b), but a stratum equal to the corpus
    // minus itself scores small; the exact values come from the model
    val docs = (
      Seq.fill(2)(("a", 1L)) ++ Seq(("a", 2L)) ++
      Seq(("b", 2L)) ++ Seq.fill(3)(("b", 3L)) ++
      Seq(("c", 1L), ("c", 2L), ("c", 3L))
    ).zipWithIndex.map { case ((s, v), i) => (i.toLong, s, v) }
      .toDF("id", "src", "len")
    val got = TrainingData.ksDrift(docs, "src", "len")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // exact integer model over the merged value grid
    val all = Seq("a" -> 1L, "a" -> 1L, "a" -> 2L, "b" -> 2L, "b" -> 3L,
      "b" -> 3L, "b" -> 3L, "c" -> 1L, "c" -> 2L, "c" -> 3L)
    val values = all.map(_._2).distinct.sorted
    val nG = all.size.toLong
    def model(s: String): (Long, Double) = {
      val sv = all.filter(_._1 == s).map(_._2)
      val nS = sv.size.toLong
      val d = values.map { v =>
        val cumS = sv.count(_ <= v).toLong
        val cumG = all.count(_._2 <= v).toLong
        math.abs(cumS * nG - cumG * nS)
      }.max
      (nS, BigDecimal(d.toDouble / (nS * nG).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    Seq("a", "b", "c").foreach(s => assert(got(s) == model(s), s"stratum $s"))
    // the uniform stratum c hugs the corpus much closer than the
    // skewed a/b tails
    assert(got("c")._2 < got("a")._2 && got("c")._2 < got("b")._2)
  }

  test("rollingAnomaly scores a spike against trailing history; thin/flat history is NULL") {
    // series "a": buckets 0..9 carry 4 events each, bucket 10 carries 12
    // — flat history has zero variance → NULL z even with history;
    // series "b": counts 1..11 → real variance, model-checked z
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, java.sql.Timestamp)]
    def at(b: Long, i: Long) = new java.sql.Timestamp(b * 3600000L + i)
    for (b <- 0L to 9L; i <- 0L until 4L) rows += (("a", at(b, i)))
    for (i <- 0L until 12L) rows += (("a", at(10L, i)))
    for (b <- 0L to 10L; i <- 0L to b) rows += (("b", at(b, i)))
    val ev = rows.toSeq.toDF("event_type", "ts")
    val got = TrainingData.rollingAnomaly(ev, "event_type", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), if (r.isNullAt(4)) null else r.getDouble(4))))
      .toMap
    // a@10: 10 predecessors all 4 → variance 0 → NULL
    assert(got(("a", 10L)) == ((12L, 10L, null)))
    // a@5: only 5 predecessors < minPrev 8 → NULL
    assert(got(("a", 5L))._3 == null && got(("a", 5L))._2 == 5L)
    // b@10: predecessors counts 3..10 (buckets 2..9 = 8 rows... model it
    val hist = (1L to 10L)  // counts of buckets 0..9
    val np = 10L; val s1 = hist.sum; val s2 = hist.map(x => x * x).sum
    val zModel = BigDecimal((11L * np - s1).toDouble
        / math.sqrt((np * s2 - s1 * s1).toDouble) * math.sqrt(np.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("b", 10L)) == ((11L, 10L, zModel)))
  }

  test("transitionMatrix counts per-user consecutive pairs with exact micro probs") {
    val ev = Seq(
      (1L, "view", 1000L, 1L), (1L, "click", 2000L, 2L),
      (1L, "view", 3000L, 3L), (1L, "click", 4000L, 4L),
      (2L, "view", 1000L, 5L), (2L, "buy", 2000L, 6L),
      // NULL user/type rows carry no transition
      (3L, null, 1000L, 7L), (3L, "view", 2000L, 8L)
    ).toDF("u", "ty", "tms", "eid")
      .withColumn("t", org.apache.spark.sql.functions.timestamp_millis(col("tms")))
    val got = TrainingData.transitionMatrix(ev, "u", "ty", "t", "eid")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // from view: click 2×, buy 1× → 666666 and 333333 micro (div floor)
    assert(got(("view", "click")) == ((2L, 666666L)))
    assert(got(("view", "buy")) == ((1L, 333333L)))
    assert(got(("click", "view")) == ((1L, 1000000L)))
    assert(!got.keySet.exists(_._1 == null) && got.size == 3)
  }

  test("simhashHammingPairs equals the brute-force Hamming scan (exact banding)") {
    // the banding claims EXACTNESS (pigeonhole recall + popcount-verify
    // precision), so the check is full equality with the all-pairs scan
    // over the oracle-checked signature relation — on the fixture corpus
    // AND a hand corpus with a known duplicate
    val fixture = graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val hand = Seq(
      (9001L, "the cat sat on the mat and looked around"),
      (9002L, "the cat sat on the mat and looked around"), // exact dup -> 0
      (9003L, "the cat sat on the mat and looked away"),   // near dup
      (9004L, "entirely unrelated content about spark plans")
    ).toDF("doc_id", "text")
    val docs = fixture.unionByName(hand)
    val got = TrainingData.simhashHammingPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = graft.ops.DedupOps.simhashSignatures(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (i1, h1) <- sigs; (i2, h2) <- sigs if i1 < i2
      hm = java.lang.Long.bitCount(h1 ^ h2) if hm <= 3
    } yield (i1, i2, hm)).toSet
    assert(got == brute)
    assert(got.contains((9001L, 9002L, 0)), "exact dup pair at Hamming 0")
    // the guarantee stops at 3: wider radii must be rejected, not
    // silently lossy
    intercept[IllegalArgumentException] {
      TrainingData.simhashHammingPairs(docs, "doc_id", "text", maxHamming = 4)
    }
  }

  test("epochShuffle: sha model agrees; epochs permute differently; pos tiles") {
    val docs = (1L to 200L).map(i => Tuple1(i)).toDF("id")
    val got = TrainingData.epochShuffle(docs, "id", nShards = 4, epoch = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.length == 200 && got.map(_._1).toSet.size == 200)
    // plain-Scala model of the 16-bit sha coordinate
    def h16(s: String): Int = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
      Integer.parseInt(hex, 16)
    }
    got.foreach { case (id, shard, _) =>
      assert(shard == h16(s"$id#e3") % 4, s"id $id")
    }
    // pos tiles 1..n within each shard, ordered by (hash, id)
    got.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"shard $shard")
      val byPos = rows.sortBy(_._3).map(_._1)
      val expect = rows.map(_._1).sortBy(id => (h16(s"$id#e3"), id))
      assert(byPos.toSeq == expect.toSeq, s"shard $shard order")
    }
    // a different epoch produces a different layout (and the same epoch
    // reproduces exactly)
    val e4 = TrainingData.epochShuffle(docs, "id", nShards = 4, epoch = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(e4.toSet != got.toSet)
    val again = TrainingData.epochShuffle(docs, "id", nShards = 4, epoch = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(again.toSet == got.toSet)
  }

  test("integrityAudit counts keys and rows per status; NULLs are orphans") {
    val left = Seq(Some(1L), Some(2L), Some(2L), Some(3L), None)
      .map(Tuple1(_)).toDF("lk")
    val right = Seq(Some(2L), Some(3L), Some(3L), Some(4L), None, None)
      .map(Tuple1(_)).toDF("rk")
    val got = TrainingData.integrityAudit(left, "lk", right, "rk")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // keys 2,3 match (left rows 3: one 2 twice + one 3; right rows 3);
    // left_only = {1, NULL} (2 keys, 2 rows); right_only = {4, NULL}
    // (2 keys, 3 rows — the NULL key holds two rows)
    assert(got("both") == ((2L, 3L, 3L)))
    assert(got("left_only") == ((2L, 2L, 0L)))
    assert(got("right_only") == ((2L, 0L, 3L)), got.toString)
  }

  test("zipfSlope: perfect power law gives slope ~ -1; exact model; 1-term NULL") {
    // frequencies 12/6/4/3 = 12/rank — an exact Zipf corpus — against a
    // flat source (all counts equal → slope 0) and a 1-term source
    val zipf = ("a " * 12 + "b " * 6 + "c " * 4 + "d " * 3).trim
    val flat = "p q r s p q r s"      // every count 2, ranks 1..4
    val docs = Seq((1L, "z", zipf), (2L, "f", flat), (3L, "one", "solo"))
      .toDF("id", "src", "body")
    val got = TrainingData.zipfSlope(docs, "src", "body")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    def q3(v: Double): Long = math.round(math.log(v) * 1e3)
    def slopeModel(counts: Seq[Long]): Double = {
      val xy = counts.sorted(Ordering[Long].reverse).zipWithIndex
        .map { case (c, i) => (q3((i + 1).toDouble), q3(c.toDouble)) }
      val n = xy.length.toLong
      val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      BigDecimal((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got("z")._1 == 4L && got("z")._2 == slopeModel(Seq(12L, 6L, 4L, 3L)))
    assert(math.abs(got("z")._2.asInstanceOf[Double] + 1.0) < 0.02, got("z"))
    assert(got("f")._2 == 0.0)
    assert(got("one") == ((1L, null)))
  }

  test("mmrDiverseTopK swaps the near-copy for a diverse pick; exact model agrees") {
    // probe along e1; 1 and 2 are near-copies of each other (pair cos
    // ≈ 0.99995), 3 is diverse but less relevant, 4 is irrelevant, 5 is
    // a zero vector. Plain relevance top-3 = (1, 2, 3); MMR at λ=60
    // must demote the copy: (1, 3, 2).
    val corpus = Seq(
      (1L, Seq(9f, 4f, 0f, 0f)),
      (2L, Seq(9f, 4.1f, 0f, 0f)),
      (3L, Seq(8f, -6f, 0f, 0f)),
      (4L, Seq(0f, 0f, 9f, 1f)),
      (5L, Seq(0f, 0f, 0f, 0f))).toDF("id", "emb")
    val probeVec = Seq(1f, 0f, 0f, 0f)
    val probe = Seq((0L, probeVec)).toDF("id", "emb")
    val got = TrainingData.mmrDiverseTopK(corpus, probe, "id", "emb",
        k = 3, lambdaPct = 60, poolSize = 10)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got.map(_._2) == Seq(1L, 3L, 2L), got.toString)
    // exact integer model: same fold-order cosine, same HALF-UP micro
    // rounding, same greedy recurrence
    def dotM(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def simM(a: Seq[Float], b: Seq[Float]): Long = {
      val v = dotM(a, b) / (math.sqrt(dotM(a, a)) * math.sqrt(dotM(b, b))) * 1e6
      (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
    }
    var pool = corpus.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .filter(c => dotM(c._2, c._2) > 0)
      .map(c => (c._1, c._2, simM(c._2, probeVec), 0L)).toSeq
    val model = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long, Long)]
    for (r <- 1 to 3) {
      val sel = pool.minBy(c => (-(60L * c._3 - 40L * c._4), c._1))
      model += ((r, sel._1, sel._3, sel._4, 60L * sel._3 - 40L * sel._4))
      pool = pool.filter(_._1 != sel._1)
        .map(c => (c._1, c._2, c._3, math.max(c._4, simM(c._2, sel._2))))
    }
    assert(got == model.toSeq)
    // the zero vector can never appear at any k
    val all = TrainingData.mmrDiverseTopK(corpus, probe, "id", "emb",
      k = 4, lambdaPct = 60, poolSize = 10)
    assert(all.collect().map(_.getLong(1)).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("stratifiedQuota: largest-remainder seats, exact total, deterministic") {
    // strata 70/20/10 docs, budget 25 → quotas 17.5/5/2.5; floors 17/5/2
    // leave 1 seat; remainders .5/.0/.5 tie → stratum-ascending gives it
    // to 'a' (a < c)
    val docs = (1L to 100L).map(i =>
      (i, if (i <= 70) "a" else if (i <= 90) "b" else "c")).toDF("id", "src")
    val got = TrainingData.stratifiedQuota(docs, "id", "src", budget = 25L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.length == 25)
    val bySrc = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc == Map("a" -> 18, "b" -> 5, "c" -> 2))
    // in-stratum ranks tile 1..alloc and selection is deterministic
    assert(got.filter(_._2 == "a").map(_._3).sorted.toSeq == (1 to 18))
    val again = TrainingData.stratifiedQuota(docs, "id", "src", budget = 25L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(got.toSet == again.toSet)
    // budget == corpus keeps everything; NULL strata are excluded
    val full = TrainingData.stratifiedQuota(docs, "id", "src", budget = 100L)
    assert(full.count() == 100L)
  }

  test("jaccardPrefixPairs equals the brute-force co-occurrence scan") {
    // the prefix filter must affect cost only: same (d1, d2, inter) set
    // as the all-co-occurrences verifier at the same rational threshold
    val pruned = TrainingData.jaccardPrefixPairs(corpus, "id", "body", 3L, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = TrainingData.nearDupPairs(corpus, "id", "body", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pruned == brute)
    assert(pruned.map(p => (p._1, p._2)) ==
      Set((10L, 11L), (10L, 12L), (11L, 12L)))
  }

  test("jaccardPrefixPairs: exact-threshold and length-filter boundaries") {
    // hand-built element sets so J lands EXACTLY on the rational bound:
    //  1 = {1..7}, 2 = {1..10}: inter 7, union 10 -> J = 7/10 (keep, and
    //      the length filter sits at equality: 10*7 = 7*10)
    //  4 = {21..27}, 5 = {21..26, 28}: inter 6, union 8 -> 0.75 (keep)
    //  8 = {1..10, 50} vs 1: J = 7/11 — cut by the length filter itself
    //      (vs 2 it IS a true pair, J = 10/11: supersets still surface)
    //  6 = {31..36, 1}, 7 = {41..46, 1}: share ONLY the corpus's most
    //      frequent element, J = 1/13 (prefixes hold the rarest, so the
    //      pair never even becomes a candidate)
    val sh = (
      (1L to 7L).map((1L, _)) ++ (1L to 10L).map((2L, _)) ++
      (21L to 27L).map((4L, _)) ++ ((21L to 26L) :+ 28L).map((5L, _)) ++
      ((1L to 10L) :+ 50L).map((8L, _)) ++
      ((31L to 36L) :+ 1L).map((6L, _)) ++ ((41L to 46L) :+ 1L).map((7L, _))
    ).toDF("doc_id", "shh")
    val got = TrainingData.jaccardPrefixPairsFromShingles(sh, 7L, 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == Set((1L, 2L, 7L, 10L, 0.7), (2L, 8L, 10L, 11L, 0.909091),
      (4L, 5L, 6L, 8L, 0.75)))
  }

  test("fuzzyResolvePairs: support orientation, blocks, distance cutoff") {
    // rows replicate names so support counting is exercised; "blue
    // gadget" sits in another block and must pair with nothing
    val rows = Seq.fill(5)("blue widget") ++ Seq.fill(2)("bleu widget") ++
      Seq("blu widget") ++ Seq.fill(9)("blue gadget") ++
      Seq.fill(3)("red bolt") ++ Seq("redd bolt") ++ Seq(null)
    val rel = rows.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name")
    val got = TrainingData.fuzzyResolvePairs(rel, "name", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      ("blu widget", "blue widget", 1, 1L, 5L),   // 1 insertion
      ("bleu widget", "blue widget", 2, 2L, 5L),  // u<->e is 2 substitutions
      ("blu widget", "bleu widget", 1, 1L, 2L),   // lower support = variant
      ("redd bolt", "red bolt", 1, 1L, 3L)))
    assert(!got.exists(p => p._1.endsWith("gadget") || p._2.endsWith("gadget")))
  }

  test("stateIntervals: runs collapse, open interval NULL, ties by tiebreak") {
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val ev = Seq(
      (1L, 1L, "A", ts(1000L)), (2L, 1L, "A", ts(2000L)), // same-state run
      (3L, 1L, "B", ts(3000L)),
      (5L, 1L, "A", ts(4000L)), (4L, 1L, "A", ts(4000L)), // tied ts: id order
      (6L, 2L, "A", ts(5000L)),
      (7L, 2L, null, ts(6000L))                           // NULL state: no evidence
    ).toDF("event_id", "user_id", "state", "ts")
    val got = TrainingData.stateIntervals(ev, "user_id", "state", "ts", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      (1L, "A", 1000L, 3000L, 2L),
      (1L, "B", 3000L, 4000L, 1L),
      (1L, "A", 4000L, -1L, 2L),   // ids 4 and 5 extend one open run
      (2L, "A", 5000L, -1L, 1L)))
  }

  test("ngramSaturation: exact type/token counts per n; short docs skip high n") {
    val docs = Seq(
      ("a", "x x x x"),       // 4 tokens, 1 type at every n
      ("b", "p q r"),         // all-distinct at every n
      ("b", "p q"),           // contributes to n=1,2 only
      ("c", null)             // no text: excluded
    ).toDF("src", "body")
    val got = TrainingData.ngramSaturation(docs, "src", "body", maxN = 3)
      .collect().map(r => ((r.getString(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(("a", 1)) == ((4L, 1L, 250000L)))
    assert(got(("a", 2)) == ((3L, 1L, 333333L)))
    assert(got(("a", 3)) == ((2L, 1L, 500000L)))
    assert(got(("b", 1)) == ((5L, 3L, 600000L)))  // p q r p q: 3 types / 5
    assert(got(("b", 2)) == ((3L, 2L, 666666L))) // "p q" twice, "q r" once
    assert(!got.contains(("c", 1)))
  }

  test("passageChunks: full coverage, exact overlap, dense ids, edges") {
    val docs = Seq(
      (1L, (1 to 25).map(i => s"t$i").mkString(" ")), // 25 toks: 3 chunks
      (2L, "a b c"),                                  // shorter than size
      (3L, ""), (4L, null)                            // no chunks
    ).toDF("id", "body")
    val got = TrainingData.passageChunks(docs, "id", "body",
        size = 10, overlap = 4) // stride 6
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getString(4)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // starts 1, 7, 13, 19, 25 — every start <= len, final chunk short
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((1, 1, 10), (2, 7, 10), (3, 13, 10), (4, 19, 7), (5, 25, 1)))
    // coverage: every token index lands in >= 1 chunk
    val covered = d1.flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (1 to 25).toSet)
    // consecutive FULL chunks share exactly `overlap` tokens
    val c1 = d1(0)._5.split(" "); val c2 = d1(1)._5.split(" ")
    assert(c1.takeRight(4).toSeq == c2.take(4).toSeq)
    // short doc: one chunk, whole doc
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 1, 1, 3, "a b c")))
    assert(!got.exists(c => c._1 == 3L || c._1 == 4L))
  }

  test("reciprocalRankFusion: exact integer model, pool asymmetry, ties") {
    // ranking A ranks (1,2,3); ranking B ranks (2,1) — candidate 3
    // appears in only one pool and still fuses with one term
    val ra = Seq((9L, 1L, 1), (9L, 2L, 2), (9L, 3L, 3))
      .toDF("q_id", "c_id", "rank")
    val rb = Seq((9L, 2L, 1), (9L, 1L, 2)).toDF("q_id", "c_id", "rank")
    val got = TrainingData.reciprocalRankFusion(Seq(ra, rb),
        kConst = 60L, topK = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._3)
    def m(r: Long) = 1000000L / (60L + r)
    // 1: 1/61 + 1/62 = 16393+16129 = 32522; 2: 1/62 + 1/61 = same sum —
    // TIE, broken by c_id; 3: 1/63 alone
    assert(got.toSeq == Seq(
      (1L, m(1) + m(2), 1), (2L, m(2) + m(1), 2), (3L, m(3), 3)))
  }

  test("splitLeakage: both orientations caught, train-train ignored") {
    // pairs carry the smaller id first; the eval doc can sit on EITHER
    // side, and train-train / eval-eval pairs must not report
    val pairs = Seq((1L, 5L), (2L, 6L), (3L, 4L), (5L, 6L))
      .toDF("d1", "d2")
    val splits = Seq(
      (1L, "train"), (2L, "train"), (3L, "train"), (4L, "train"),
      (5L, "test"), (6L, "val")).toDF("id", "split")
    val got = TrainingData.splitLeakage(pairs, splits, "id", "split")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // 5 (test) near-dups train-1; 6 (val) near-dups train-2; pair (3,4)
    // is train-train (silent); pair (5,6) is eval-eval (silent)
    assert(got == Set((5L, "test", 1L, 1L), (6L, "val", 1L, 2L)))
  }

  test("fleissKappa: hand-computed statistic, perfect and negative cases") {
    // 3 items x 3 raters, 2 labels — the worked Fleiss setup.
    // item 1: AAA (agree 3*2=6 of 6); item 2: AAB (2+0=2 of 6);
    // item 3: ABB (0+2=2 of 6)
    val r = Seq(
      (1L, 1L, "A"), (1L, 2L, "A"), (1L, 3L, "A"),
      (2L, 1L, "A"), (2L, 2L, "A"), (2L, 3L, "B"),
      (3L, 1L, "A"), (3L, 2L, "B"), (3L, 3L, "B"),
      (4L, 1L, "A") // single-rater item: excluded everywhere
    ).toDF("item", "rater", "label")
    val got = TrainingData.fleissKappa(r, "item", "rater", "label")
      .collect().head
    assert(got.getLong(0) == 3L && got.getLong(1) == 9L &&
      got.getLong(2) == 2L)
    // per-item micros: 1000000, 333333, 333333 -> po = 1666666/3
    val po = (1000000L + 333333L + 333333L) / 3L
    assert(got.getLong(3) == po)
    // label masses over kept items: A=6, B=3 of 9 ->
    // p_micro 666666, 333333; pe = (666666^2+333333^2) div 10^6
    val pe = (666666L * 666666L + 333333L * 333333L) / 1000000L
    assert(got.getLong(4) == pe)
    assert(got.getLong(5) == (po - pe) * 1000000L / (1000000L - pe))

    // unanimity (with >1 label in play, so pe < 1): po = kappa = 10^6
    val perfect = Seq((1L, 1L, "A"), (1L, 2L, "A"), (2L, 1L, "B"),
      (2L, 2L, "B")).toDF("item", "rater", "label")
    val p = TrainingData.fleissKappa(perfect, "item", "rater", "label")
      .collect().head
    assert(p.getLong(3) == 1000000L && p.getLong(5) == 1000000L)

    // single-label corpus: P_e = 1, kappa UNDEFINED -> NULL (never a
    // division by zero)
    val oneLabel = Seq((1L, 1L, "A"), (1L, 2L, "A"), (2L, 1L, "A"),
      (2L, 2L, "A")).toDF("item", "rater", "label")
    val o = TrainingData.fleissKappa(oneLabel, "item", "rater", "label")
      .collect().head
    assert(o.getLong(3) == 1000000L && o.getLong(4) == 1000000L &&
      o.isNullAt(5))

    // systematic DISagreement: every item split 1-1 -> po = 0,
    // kappa strictly negative (the sign-explicit division path)
    val disagree = Seq((1L, 1L, "A"), (1L, 2L, "B"), (2L, 1L, "A"),
      (2L, 2L, "B")).toDF("item", "rater", "label")
    val n = TrainingData.fleissKappa(disagree, "item", "rater", "label")
      .collect().head
    assert(n.getLong(3) == 0L && n.getLong(5) < 0L)
    assert(n.getLong(5) == -(n.getLong(4) * 1000000L /
      (1000000L - n.getLong(4))))
  }

  test("goodTuringMass: count-of-counts model; saturated vs open source") {
    val docs = Seq(
      // open vocabulary: 4 singletons, 1 doubleton -> unseen 4/6
      ("open", "a b c d e e"),
      // template spam: one type repeated -> unseen mass 0
      ("tmpl", "x x x x"), ("tmpl", "x x"),
      ("nul", null)
    ).toDF("src", "body")
    val got = TrainingData.goodTuringMass(docs, "src", "body")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("open") == ((6L, 5L, 4L, 1L, 666666L)))
    assert(got("tmpl") == ((6L, 1L, 0L, 0L, 0L)))
    assert(!got.contains("nul"))
  }

  test("weightedPrioritySample: exact-model keys, weight bias, exclusions") {
    // plain-Scala model of the whole derivation: 16-bit salted hash ->
    // unit coordinate -> -ln(u)/w micro key
    def h16(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16)
    }
    def key(id: Long, w: Double): Long =
      math.round((-math.log((h16(s"$id#ares") + 1) / 65536.0) / w) * 1e6)
    val docs = ((1L to 40L).map(i => (i, 10.0)) ++
      Seq((100L, 1e9), (101L, 0.0), (102L, -3.0))) // 101/102: no clock
      .toDF("id", "w")
    val got = TrainingData.weightedPrioritySample(docs, "id", "w", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // model replays the full ordering
    val model = ((1L to 40L).map(i => (i, key(i, 10.0))) :+
      ((100L, key(100L, 1e9))))
      .sortBy(p => (p._2, p._1)).take(10)
    assert(got.toSeq == model)
    // the huge-weight row has key ~0: it must be in every top-10
    assert(got.exists(_._1 == 100L))
    assert(!got.exists(p => p._1 == 101L || p._1 == 102L))
  }

  test("robustOutliers: flags the planted outlier, zero-MAD stratum silent") {
    val rows =
      // stratum s: values tight around 100, one planted megadoc
      (1L to 9L).map(i => (i, "s", 95L + i)) ++ Seq((10L, "s", 100000L)) ++
      // stratum z: over half the rows identical -> MAD 0 -> silent,
      // even though 9999 would scream under a mean/stddev screen
      Seq((21L, "z", 5L), (22L, "z", 5L), (23L, "z", 5L), (24L, "z", 9999L))
    val got = TrainingData.robustOutliers(rows.toDF("id", "src", "v"),
        "src", "v", "id", threshold = 3.5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    // s sorted: 96..104, 100000 -> interpolated median 100.5; absolute
    // deviations sorted: .5 .5 1.5 1.5 2.5 2.5 3.5 3.5 4.5 99899.5 ->
    // MAD 2.5; z(100000) = .6745*(100000-100.5)/2.5 micros
    assert(got.map(_._1).toSeq == Seq(10L))
    val z = math.round(0.6745 * (100000.0 - 100.5) / 2.5 * 1e6)
    assert(got.head._3 == z)
    assert(!got.exists(_._2 == "z"))
  }

  test("clusterConcentration: exact shares, rank order, top-k cut") {
    // clusters of sizes 5, 3, 1, 1 (10 clustered docs); k = 2
    val labels = (Seq.fill(5)(100L) ++ Seq.fill(3)(200L) ++
      Seq(300L, 400L)).zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("id", "cluster")
    val got = TrainingData.clusterConcentration(labels, "id", "cluster", k = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, 100L, 5L, 500000L, 500000L),
      (2, 200L, 3L, 300000L, 800000L)))
  }

  test("sourceJaccardMatrix: exact set overlap; disjoint pairs absent") {
    // a and b share exactly half of a's shingles; c is disjoint. Docs
    // long enough that 3-shingles are unambiguous.
    val docs = Seq(
      (1L, "a", "w1 w2 w3 w4 w5"),       // shingles: 3
      (2L, "b", "w1 w2 w3 w4 w5 x1 x2"), // superset of a's + 2 more
      (3L, "c", "y1 y2 y3 y4")           // disjoint
    ).toDF("id", "src", "body")
    val sh = TrainingData.shingles(docs, "id", "body")
    val got = TrainingData.sourceJaccardMatrix(sh, docs, "id", "src")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // a: 3 shingles, b: 5, inter = 3, union = 5
    assert(got(("a", "b")) == ((3L, 5L, 0.6)))
    assert(!got.contains(("a", "c")) && !got.contains(("b", "c")))
  }

  test("kCenterCoreset: hand-computed greedy picks, tie to smaller id, radius non-increasing") {
    // 1-D points embedded as [x, 0]: 0, 100, 10, 1, 11 for ids 1..5
    val emb = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(100.0f, 0.0f)),
      (3L, Array(10.0f, 0.0f)), (4L, Array(1.0f, 0.0f)),
      (5L, Array(11.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.api.TrainingData
      .kCenterCoreset(emb, "vec_id", "embedding", k = 5, poolSize = 5)
      .orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // greedy: seed 1 (x=0), then 2 (x=100, d²=10⁴), then 5 (x=11,
    // md=121), then the 10⁶-micro tie between ids 3 and 4 → smaller id 3
    assert(got.toSeq == Seq(
      (1, 1L, -1L), (2, 2L, 10000L * 1000000L), (3, 5L, 121L * 1000000L),
      (4, 3L, 1000000L), (5, 4L, 1000000L)))
    // the covering radius never increases
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => b <= a })
  }

  test("prefixBoilerplate: shared-prefix differing-body groups only; short docs excluded") {
    val p = "x" * 64
    val docs = Seq(
      (1L, p + " tail one"),   // boilerplate group: same prefix,
      (2L, p + " tail two"),   //   three docs, two distinct bodies
      (3L, p + " tail one"),
      (4L, "y" * 64 + " a"),   // same prefix, IDENTICAL bodies → exact-dup
      (5L, "y" * 64 + " a"),   //   territory, not boilerplate: absent
      (6L, "z" * 64 + " solo"), // singleton prefix: absent
      (7L, "short"))            // shorter than the prefix: excluded
      .toDF("id", "body")
    val got = graft.api.TrainingData
      .prefixBoilerplate(docs, "id", "body", prefixLen = 64)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((3L, 2L, 1L)))
  }

  test("centroidDrift: exact micro means, sign, truncation toward zero, zero-norm NULL") {
    val emb = Seq(
      // label 1: orthogonal halves → dot 0
      (0L, Array(1.0f, 0.0f), 1), (2L, Array(3.0f, 0.0f), 1),
      (1L, Array(0.0f, 2.0f), 1),
      // label 2: parallel halves → cos² = 10⁶ exactly
      (4L, Array(1.0f, 1.0f), 2), (5L, Array(2.0f, 2.0f), 2),
      // label 3: zero half-0 centroid → cos² NULL
      (6L, Array(0.0f, 0.0f), 3), (7L, Array(1.0f, 0.0f), 3),
      // label 4: negative micro sum −3 over n=2 truncates to −1 (not −2)
      (8L, Array(-3.0e-6f, 0.0f), 4), (10L, Array(0.0f, 0.0f), 4),
      (9L, Array(1.0e-6f, 0.0f), 4))
      .toDF("vec_id", "embedding", "label")
    val got = graft.api.TrainingData
      .centroidDrift(emb, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getInt(6), if (r.isNullAt(7)) -1L else r.getLong(7)))).toMap
    // label 1: means a=[2e6,0], b=[0,2e6] → dot 0, na2 4e12, nb2 4e12, cos² 0
    assert(got(1) == ((2L, 1L, 0L, 4000000000000L, 4000000000000L, 0, 0L)))
    // label 2: a=[1e6,1e6], b=[2e6,2e6] → cos² = 10⁶
    assert(got(2) == ((1L, 1L, 4000000000000L, 2000000000000L,
      8000000000000L, 1, 1000000L)))
    // label 3: zero a-centroid → NULL cos², sign 0
    assert(got(3) == ((1L, 1L, 0L, 0L, 1000000000000L, 0, -1L)))
    // label 4: a mean micro = (−3 + 0) div 2 = −1 (truncated), b = 1
    assert(got(4) == ((2L, 1L, -1L, 1L, 1L, -1, 1000000L)))
  }

  test("kAnonymityAudit: both bounds enforced; NULL quasi groups; NULL sensitive ignored") {
    val rows = Seq(
      // group (1, "A"): size 3 < k=3? no (==3 passes size), but l_div 1 < 2
      (1, "A", Some("x")), (1, "A", Some("x")), (1, "A", Some("x")),
      // group (1, "B"): size 2 < 3 → violates k
      (1, "B", Some("x")), (1, "B", Some("y")),
      // group (2, "A"): size 3, l_div 2 → compliant, absent
      (2, "A", Some("x")), (2, "A", Some("y")), (2, "A", Some("x")),
      // NULL quasi forms its own group (size 1 → violates)
      (3, null, Some("z")),
      // NULL sensitive doesn't count toward l: size 3, l_div 1 → violates l
      (4, "C", Some("x")), (4, "C", None), (4, "C", None))
      .toDF("q1", "q2", "s")
    val got = graft.api.TrainingData
      .kAnonymityAudit(rows, Seq("q1", "q2"), "s", k = 3L, l = 2L)
      .collect()
      .map(r => ((r.getInt(0), Option(r.getString(1)).getOrElse("<null>")),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      (1, "A") -> ((3L, 1L)),
      (1, "B") -> ((2L, 2L)),
      (3, "<null>") -> ((1L, 1L)),
      (4, "C") -> ((3L, 1L))))
  }

  test("shuffleQualityAudit: adjacency counts, run lengths, single-doc shard NULL") {
    val layout = Seq(
      // shard 0, order by pos: sources A A A B A → same 2+0+0... lag:
      // (A,A)=1 (A,A)=1 (A,B)=0 (B,A)=0 → n_same 2, max_run 3
      (10L, 0, 1), (11L, 0, 2), (12L, 0, 3), (13L, 0, 4), (14L, 0, 5),
      // shard 1: single doc → frac NULL, max_run 1
      (20L, 1, 1))
      .toDF("doc_id", "shard", "pos")
    val docs = Seq(
      (10L, "A"), (11L, "A"), (12L, "A"), (13L, "B"), (14L, "A"),
      (20L, "Z")).toDF("doc_id", "source")
    val got = graft.api.TrainingData
      .shuffleQualityAudit(layout, docs, "doc_id", "source")
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))).toMap
    assert(got(0) == ((5L, 2L, 2L * 1000000L / 4L, 3L)))
    assert(got(1) == ((1L, 0L, -1L, 1L)))
  }

  test("shardBalanceAudit: hand-computed skew and Gini on known loads") {
    val layout = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("doc_id", "shard")
    val docs = Seq((1L, 4L), (2L, 6L), (3L, 30L)).toDF("doc_id", "load")
    val r = graft.api.TrainingData
      .shardBalanceAudit(layout, docs, "doc_id", "load").collect().head
    // loads: shard0 = 10, shard1 = 30; total 40, max 30, min 10
    assert(r.getLong(0) == 2L && r.getLong(1) == 40L &&
      r.getLong(2) == 30L && r.getLong(3) == 10L)
    // skew = 1e6·30·2 div 40 = 1_500_000
    assert(r.getLong(4) == 1500000L)
    // pair_abs = |10-30| + |30-10| = 40 → gini = 1e6·40 div (2·2·40) = 250_000
    assert(r.getLong(5) == 250000L)
  }

  test("confusionMatrix: NULLs excluded, per-true-class row fractions") {
    val rows = Seq(
      ("en", "en"), ("en", "en"), ("en", "es"), ("es", "es"),
      (null.asInstanceOf[String], "en"), ("fr", null.asInstanceOf[String]))
      .toDF("gold", "pred")
    val got = graft.api.TrainingData.confusionMatrix(rows, "gold", "pred")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // NULL gold and NULL pred rows drop; en total 3, es total 1
    assert(got == Map(
      ("en", "en") -> ((2L, 3L, 666666L)),
      ("en", "es") -> ((1L, 3L, 333333L)),
      ("es", "es") -> ((1L, 1L, 1000000L))))
  }

  test("calibrationBins: edge clamping, NULL drop, exact micros, ECE") {
    val rows = Seq(
      // -0.5 clamps into bin 0 (p_micro stays -500000), 1.2 into bin 1
      (Some(-0.5), Some(true)), (Some(0.25), Some(false)),
      (Some(0.75), Some(true)), (Some(1.2), Some(true)),
      (None, Some(true)), (Some(0.5), None))
      .toDF("p", "y")
    val got = graft.api.TrainingData.calibrationBins(rows, "p", "y", nBins = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    // bin 0: sp = -500000+250000 → mean -125000 (div truncates toward 0),
    // emp 500000, gap 625000; bin 1: mean 975000, emp 1e6, gap 25000;
    // ECE = (2·625000 + 2·25000) div 4 = 325000 on both rows
    assert(got == Map(
      0L -> ((2L, 1L, -125000L, 500000L, 625000L, 325000L)),
      1L -> ((2L, 2L, 975000L, 1000000L, 25000L, 325000L))))
  }

  test("aucExact: midrank ties, perfect separation, single-class NULL") {
    // positives at s=1 (tied with a negative) and s=3: midranks 1.5 + 4
    // → U = 2.5 → AUC = 2.5/(2·2) = 0.625
    val rows = Seq((1, Some(true)), (1, Some(false)), (2, Some(false)),
      (3, Some(true)), (9, None)).toDF("s", "lab")
    val r = graft.api.TrainingData.aucExact(rows, "s", "lab").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L &&
      r.getLong(2) == 625000L)
    val sep = Seq((1, false), (2, true)).toDF("s", "lab")
    assert(graft.api.TrainingData.aucExact(sep, "s", "lab")
      .collect().head.getLong(2) == 1000000L)
    val mono = Seq((1, true), (2, true)).toDF("s", "lab")
    assert(graft.api.TrainingData.aucExact(mono, "s", "lab")
      .collect().head.isNullAt(2))
  }

  test("aucExact: raise_error guard fires past maxExactRows") {
    val rows = Seq((1, true), (2, false), (3, true)).toDF("s", "lab")
    val e = intercept[Exception] {
      graft.api.TrainingData.aucExact(rows, "s", "lab", maxExactRows = 2L)
        .collect()
    }
    assert(e.getMessage.contains("aucExact: exact-arithmetic bound"))
  }

  test("aucBucketed: equals aucExact of the coarsened score") {
    // scores 0..99, positives at >= 50: 4 buckets coarsen to 0..3 —
    // every in-bucket order distinction collapses to midrank ties
    val rows = (0 until 100).map(i => (i, i >= 50)).toDF("s", "lab")
    val got = graft.api.TrainingData.aucBucketed(rows, "s", "lab", 4)
      .collect().head
    val twin = graft.api.TrainingData.aucExact(
      (0 until 100).map(i => (i / 25, i >= 50)).toDF("b", "lab"),
      "b", "lab").collect().head
    assert(got.getLong(0) == 50L && got.getLong(1) == 50L)
    assert(got.getLong(2) == twin.getLong(2))
    // and the bucketed AUC of a perfectly-bucket-separable score is 1
    assert(got.getLong(2) == 1000000L)
  }

  test("spearmanBucketed: equals spearmanExact of the buckets; guard") {
    val xs = 0 until 64
    val ys = xs.map(i => i * 3 + 7)
    val rows = xs.zip(ys).toDF("a", "b")
    val r = graft.api.TrainingData.spearmanBucketed(rows, "a", "b", 8)
      .collect().head
    // replay the micro+equal-width bucket derivation and hand the
    // buckets to the exact form — the variant must match it exactly
    def bucket(v: Int, lo: Int, hi: Int) =
      ((v.toLong - lo) * 1000000L * 8L) / ((hi.toLong - lo) * 1000000L + 1L)
    val xb = xs.map(v => bucket(v, xs.min, xs.max))
    val yb = ys.map(v => bucket(v, ys.min, ys.max))
    val twin = graft.api.TrainingData
      .spearmanExact(xb.zip(yb).toDF("a", "b"), "a", "b").collect().head
    assert(r.getLong(0) == 64L && r.getInt(1) == 1)
    assert(r.getLong(2) == twin.getLong(2))
    val e = intercept[Exception] {
      graft.api.TrainingData.spearmanExact(rows, "a", "b",
        maxExactRows = 8L).collect()
    }
    assert(e.getMessage.contains("spearmanExact: exact-arithmetic bound"))
  }

  test("spearmanExact: monotone ±1, midrank ties, constant-column NULL") {
    def run(xs: Seq[Int], ys: Seq[Int]) = graft.api.TrainingData
      .spearmanExact(xs.zip(ys).toDF("a", "b"), "a", "b").collect().head
    val up = run(Seq(1, 2, 3), Seq(10, 20, 30))
    assert(up.getInt(1) == 1 && up.getLong(2) == 1000000L)
    val down = run(Seq(1, 2, 3), Seq(30, 20, 10))
    assert(down.getInt(1) == -1 && down.getLong(2) == 1000000L)
    // x=(1,1,2) y=(5,7,7): doubled midranks x=(3,3,6), y=(3,5,5)
    // → num=6, den1=18, den2=8 → rho = 6/12 = 0.5 → rho² = 250000
    val tied = run(Seq(1, 1, 2), Seq(5, 7, 7))
    assert(tied.getLong(0) == 3L && tied.getInt(1) == 1 &&
      tied.getLong(2) == 250000L)
    assert(run(Seq(1, 1), Seq(1, 2)).isNullAt(2))
  }

  test("benfordAudit: first digits, zero-count rows, exact chi2") {
    val vals = Seq(1L, 19L, 2L, 250L, 999L, 0L, -5L)
    val got = graft.api.TrainingData
      .benfordAudit(vals.toDF("v"), "v")
      .collect().map(r => (r.getInt(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(got.size == 9)
    // positives 1,19,2,250,999 → digits 1:2, 2:2, 9:1, total 5
    val exp = Map(1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)
    val obs = Map(1 -> 400000L, 2 -> 400000L, 9 -> 200000L)
      .withDefaultValue(0L)
    val chi2 = (1 to 9).map { d =>
      val g = obs(d) - exp(d); g * g / exp(d)
    }.sum
    (1 to 9).foreach { d =>
      val (n, total, o, e, gap, c2) = got(d)
      assert(total == 5L && e == exp(d) && o == obs(d) &&
        gap == obs(d) - exp(d) && c2 == chi2)
      assert(n == (if (d == 9) 1L else if (d <= 2) 2L else 0L))
    }
  }

  test("bootstrapCiMicro: constant value pins every mean; bounds rank 2/39") {
    val docs = (1L to 20L).map((_, 7L)).toDF("id", "v")
    val got = graft.api.TrainingData
      .bootstrapCiMicro(docs, "id", "v", nReplicates = 40).collect()
    assert(got.length == 40)
    got.foreach { r =>
      assert(r.getLong(1) > 0L)          // some doc drew a nonzero weight
      assert(r.getLong(2) == 7000000L)   // weighted mean of a constant
      assert(r.getLong(3) == 7000000L && r.getLong(4) == 7000000L)
    }
    // varying values: bounds are means of actual replicates, lo <= hi,
    // identical on every row, and the whole thing is deterministic
    val docs2 = (1L to 30L).map(i => (i, i * 11 % 97)).toDF("id", "v")
    val a = graft.api.TrainingData
      .bootstrapCiMicro(docs2, "id", "v", 40).collect()
    val b = graft.api.TrainingData
      .bootstrapCiMicro(docs2, "id", "v", 40).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val means = a.map(_.getLong(2)).toSet
    val (lo, hi) = (a.head.getLong(3), a.head.getLong(4))
    assert(lo <= hi && means.contains(lo) && means.contains(hi))
    assert(a.forall(r => r.getLong(3) == lo && r.getLong(4) == hi))
    intercept[IllegalArgumentException] {
      graft.api.TrainingData.bootstrapCiMicro(docs, "id", "v", 3)
    }
  }

  test("bootstrapCi (xxhash64 default) equals the sha twin on structure") {
    // constant value: every replicate mean is exactly v regardless of
    // which rows each path's draw upweights — (rep, mean, lo, hi) must
    // be IDENTICAL across the two coordinates here (any divergence is a
    // weight-or-rank plumbing bug, not a hash difference); n_eff is the
    // one column the differing draws legitimately move
    val const = (1L to 200L).map((_, 7L)).toDF("id", "v")
    def strip(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(_._1)
    val fast = graft.api.TrainingData
      .bootstrapCi(const, "id", "v", 40).collect()
    val sha = graft.api.TrainingData
      .bootstrapCiMicro(const, "id", "v", 40).collect()
    assert(strip(fast) == strip(sha))
    fast.foreach(r => assert(r.getLong(2) == 7000000L &&
      r.getLong(3) == 7000000L && r.getLong(4) == 7000000L))
    // varying values: same interval STRUCTURE from both paths — B rows,
    // deterministic across runs, lo/hi are actual replicate means with
    // lo <= hi on every row; the draws differ so the bounds may differ
    val docs = (1L to 200L).map(i => (i, i * 11 % 97)).toDF("id", "v")
    val a = graft.api.TrainingData.bootstrapCi(docs, "id", "v", 40).collect()
    val b = graft.api.TrainingData.bootstrapCi(docs, "id", "v", 40).collect()
    assert(a.length == 40 && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val means = a.map(_.getLong(2)).toSet
    val (lo, hi) = (a.head.getLong(3), a.head.getLong(4))
    assert(lo <= hi && means.contains(lo) && means.contains(hi))
    assert(a.forall(r => r.getLong(3) == lo && r.getLong(4) == hi))
    // and with 200 rows both 95% intervals must cover the exact mean
    val exactMean = docs.collect().map(_.getLong(1)).sum * 1000000L / 200L
    val shaV = graft.api.TrainingData
      .bootstrapCiMicro(docs, "id", "v", 40).collect().head
    assert(lo <= exactMean && exactMean <= hi)
    assert(shaV.getLong(3) <= exactMean && exactMean <= shaV.getLong(4))
  }

  test("wilsonBounds: exact IEEE mirror; small-n ranks below large-n") {
    def mirror(n: Long, pos: Long): Long = {
      val nd = n.toDouble; val pd = pos.toDouble
      math.floor(1000000.0 * (((pd + 1.96 * 1.96 / 2.0) / nd -
        (1.96 / nd) * math.sqrt(pd * (nd - pd) / nd + 1.96 * 1.96 / 4.0)) /
        (1.0 + 1.96 * 1.96 / nd))).toLong
    }
    val df = (Seq.fill(2)(("tiny", Some(true))) ++
      Seq.fill(95)(("big", Some(true))) ++ Seq.fill(5)(("big", Some(false))) ++
      Seq(("none", Some(false)), ("skip", None))).toDF("g", "y")
    val got = graft.api.TrainingData.wilsonBounds(df, "g", "y")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("tiny") == ((2L, 2L, 1000000L, mirror(2, 2))))
    assert(got("big") == ((100L, 95L, 950000L, mirror(100, 95))))
    assert(got("none") == ((1L, 0L, 0L, mirror(1, 0))))
    assert(!got.contains("skip")) // NULL labels excluded entirely
    // the headline property: a perfect 2/2 ranks BELOW a 95/100
    assert(got("tiny")._4 < got("big")._4)
  }

  test("averagePrecisionExact: block ties, perfect=1e6, single-class NULL") {
    def run(rows: Seq[(Int, Boolean)]) = graft.api.TrainingData
      .averagePrecisionExact(rows.toDF("s", "lab"), "s", "lab")
      .collect().head
    // blocks desc: s=3 (1 pos of 1 → P 1e6), s=2 (neg), s=1 (1 pos +
    // 1 neg → block-end P = 2/4 = 500000) → AP = 1500000 div 2
    val r = run(Seq((3, true), (2, false), (1, true), (1, false)))
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L &&
      r.getLong(2) == 750000L)
    val perfect = run(Seq((3, true), (2, true), (1, false)))
    assert(perfect.getLong(2) == 1000000L)
    assert(run(Seq((1, true), (2, true))).isNullAt(2))
  }

  test("sourceConcentration: exact shares, HHI, rounded entropy terms") {
    val rows = (Seq.fill(3)("a") ++ Seq("b") ++ Seq(null.asInstanceOf[String]))
      .map(Tuple1(_)).toDF("src")
    val got = graft.api.TrainingData.sourceConcentration(rows, "src")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    def ent(n: Long, t: Long): Long = {
      val s = n.toDouble / t.toDouble
      math.round(-s * math.log(s) * 1000000.0)
    }
    val entSum = ent(3, 4) + ent(1, 4)
    // shares 750000/250000 → HHI = (750000² + 250000²) div 10⁶ = 625000
    assert(got("a") == ((3L, 4L, 750000L, 2L, 625000L, entSum)))
    assert(got("b") == ((1L, 4L, 250000L, 2L, 625000L, entSum)))
  }

  test("dailyAutocorr: perfect trend, anti-correlation, gap days, NULL floor") {
    def ev(dayCounts: Seq[(Long, Int)]) = dayCounts.flatMap { case (d, c) =>
      Seq.fill(c)(new java.sql.Timestamp(d * 86400000L))
    }.map(Tuple1(_)).toDF("ts")
    // counts 1..6 over consecutive days: lag-1 pairs perfectly linear
    val up = graft.api.TrainingData.dailyAutocorr(
      ev((0L to 5L).map(d => (d, d.toInt + 1))), "ts", Seq(1))
      .collect().head
    assert(up.getLong(1) == 5L && up.getInt(2) == 1 &&
      up.getLong(3) == 1000000L)
    // alternating 1,2,1,2: lag-1 anti-correlated, r² still 10⁶
    val alt = graft.api.TrainingData.dailyAutocorr(
      ev(Seq((0L, 1), (1L, 2), (2L, 1), (3L, 2))), "ts", Seq(1))
      .collect().head
    assert(alt.getInt(2) == -1 && alt.getLong(3) == 1000000L)
    // gap day drops its pairs → only 1 pair → below the n>=3 floor
    val gap = graft.api.TrainingData.dailyAutocorr(
      ev(Seq((0L, 1), (1L, 2), (3L, 5))), "ts", Seq(1))
      .collect().head
    assert(gap.getLong(1) == 1L && gap.isNullAt(3))
  }

  test("cusumChangepoint: exact deviation sequence and argmax day") {
    val rows = (Seq.fill(2)(0L) ++ Seq.fill(2)(1L) ++ Seq.fill(8)(2L))
      .map(d => Tuple1(new java.sql.Timestamp(d * 86400000L))).toDF("ts")
    val got = graft.api.TrainingData.cusumChangepoint(rows, "ts")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // T=12, n=3: S = 3·cum − t·12 → −6, −12, 0; argmax |S| at day 1
    assert(got(0L) == ((2L, 1, -6L, 1L, 12L)))
    assert(got(1L) == ((2L, 2, -12L, 1L, 12L)))
    assert(got(2L) == ((8L, 3, 0L, 1L, 12L)))
  }

  test("exciseSpans: coverage merge, pass-through, full excision, lowering") {
    val docs = Seq((1L, "a b c d e f"), (2L, "X y Z"), (3L, "p q r"))
      .toDF("doc_id", "text")
    // k=3: span (s,e) covers tokens [s, e+2]
    val spans = Seq((1L, 1L, 1L), (1L, 3L, 3L), (3L, 1L, 1L))
      .toDF("doc_id", "start_pos", "end_pos")
    val got = graft.api.TrainingData.exciseSpans(docs, spans, "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: covered 1..3 ∪ 3..5 → kept {6} → "f"
    assert(got(1L) == ((6L, 5L, "f")))
    // doc 2: no spans → whole doc, lowercased token stream
    assert(got(2L) == ((3L, 0L, "x y z")))
    // doc 3: fully covered → empty string, not NULL
    assert(got(3L) == ((3L, 3L, "")))
  }

  test("chao1Richness: bias-corrected estimate on a hand frequency spectrum") {
    // type totals across docs: a,b,c = 1 (f1=3), d = 2 (f2=1), e = 7
    val counts = Seq((1L, "a", 1L), (1L, "b", 1L), (2L, "c", 1L),
      (1L, "d", 1L), (2L, "d", 1L), (1L, "e", 3L), (2L, "e", 4L))
      .toDF("doc_id", "tok", "tf")
    val r = graft.api.TrainingData.chao1Richness(counts).collect().head
    // chao1 = 5 + 3·2 div (2·2) = 6; unseen = 10⁶·1 div 6
    assert(r.getLong(0) == 5L && r.getLong(1) == 12L &&
      r.getLong(2) == 3L && r.getLong(3) == 1L)
    assert(r.getLong(4) == 6L && r.getLong(5) == 166666L)
  }

  test("sortedNeighborhoodPairs: prefix pass, suffix pass, both, no cross-block") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta delta"),   // shared HEAD
      (3L, "omega ending zzz"), (4L, "different ending zzz"), // shared TAIL
      (5L, "common head shared tail"), (6L, "common head shared tail"))
      .toDF("doc_id", "text")
    val got = graft.api.TrainingData
      .sortedNeighborhoodPairs(docs, "doc_id", "text", w = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map(
      (1L, 2L) -> 1L, // prefix key co-blocks, suffix keys differ
      (3L, 4L) -> 1L, // suffix key co-blocks, prefix keys differ
      (5L, 6L) -> 2L)) // identical docs caught by BOTH passes
  }

  test("dupShingleMass: cross-group duplication, exact micro fractions") {
    // shingle relation is (doc_id, key), distinct per doc by contract
    val sh = Seq((1L, 100L), (1L, 200L), (2L, 100L), (3L, 300L))
      .toDF("doc_id", "k")
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "skip"))
      .toDF("doc_id", "source")
    val got = graft.api.TrainingData.dupShingleMass(sh, docs, "doc_id", "source")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // key 100 occurs in docs 1 and 2 (cross-group): a's instances = 2
    // (1 dup → 500000); b's = 2 (1 dup → 500000); corpus = 2/4
    assert(got("a") == ((2L, 1L, 500000L, 500000L)))
    assert(got("b") == ((2L, 1L, 500000L, 500000L)))
    assert(!got.contains("skip")) // no shingles → no instances
  }

  test("tableProfile: counts, exact NDV, lexicographic min/max, NULLs") {
    val df = Seq(
      (Some(1L), Some("b")), (Some(2L), Some("a")), (Some(2L), None),
      (None, Some("a"))).toDF("id", "s")
    val got = graft.api.TrainingData.tableProfile(df)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    assert(got("id") == ((4L, 3L, 2L, "1", "2")))
    assert(got("s") == ((4L, 3L, 2L, "a", "b")))
  }

  test("tableProfile: float columns profile as micro-quantized BIGINTs") {
    val df = Seq(
      (1L, Some(0.05), Some(1.5f)), (2L, Some(0.0500001), Some(-2.0f)),
      (3L, Some(0.05), None), (4L, None, Some(1.5f)))
      .toDF("id", "d", "f")
    val got = graft.api.TrainingData.tableProfile(df)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    // 0.05 and 0.0500001 collapse at micro resolution (50000) — the
    // quantized NDV is the portable one; min/max print as integers
    assert(got("d") == ((4L, 3L, 1L, "50000", "50000")))
    assert(got("f") == ((4L, 3L, 2L, "-2000000", "1500000")))
  }

  test("asOfJoin: latest at-or-before, same-ts match, id tie-break, no-match NULL") {
    val left = Seq((1L, 100L, 10L), (1L, 205L, 11L), (2L, 50L, 12L),
      (3L, 300L, 13L)).toDF("k", "t", "lid")
    val right = Seq((1L, 100L, 900L), (1L, 100L, 901L), (1L, 200L, 902L),
      (3L, 301L, 903L)).toDF("k", "t", "rid")
    val got = graft.api.TrainingData.asOfJoin(left, right, "k", "t", "rid")
      .collect().map(r => r.getLong(2) ->
        ((if (r.isNullAt(3)) -1L else r.getLong(3)),
          (if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got(10L) == ((901L, 0L)))  // same-ts matches; max rid wins the tie
    assert(got(11L) == ((902L, 5L)))  // latest prior, gap 205-200
    assert(got(12L) == ((-1L, -1L)))  // no right row for key 2 → NULL
    assert(got(13L) == ((-1L, -1L)))  // right row is AFTER the left ts
  }

  test("logHistQuantiles: exact quantile lands inside its bucket bounds") {
    // values 1..1000: exact p50 = 500, p90 = 900, p99 = 990 — each must
    // sit inside the reported [value_lo, value_hi], and the bucket's
    // relative width must respect the 1/k bound
    val rows = (1L to 1000L).map(Tuple1(_)).toDF("v")
    val got = graft.api.TrainingData
      .logHistQuantiles(rows, "v", k = 16, quantiles = Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    val exact = Map(500000L -> 500L, 900000L -> 900L, 990000L -> 990L)
    exact.foreach { case (q, ev) =>
      val (n, lo, hi) = got(q)
      assert(n == 1000L)
      assert(lo <= ev && ev <= hi, s"q=$q exact $ev outside [$lo, $hi]")
      assert(hi - lo <= lo / 16 + 1, s"q=$q bucket [$lo, $hi] too wide")
    }
    // small-octave inversion: v=3 (oct 1) must map to a bucket whose
    // bounds are exactly [3, 3] at k=16 (sub-bucket width < 1 collapses
    // to single values — the multiply-before-div inversion)
    val tiny = graft.api.TrainingData
      .logHistQuantiles(Seq(3L).map(Tuple1(_)).toDF("v"), "v", 16, Seq(1.0))
      .collect().head
    assert(tiny.getLong(3) == 3L && tiny.getLong(4) == 3L)
    // the merge law: per-shard histograms union+re-sum into exactly the
    // whole-corpus answer — the property GK sketches don't give you
    val (a, b) = ((1L to 700L), (300L to 1000L))
    val merged = graft.api.TrainingData.logHistQuantilesFromHistogram(
      graft.api.TrainingData.logHistogram(a.map(Tuple1(_)).toDF("v"), "v", 16)
        .unionByName(graft.api.TrainingData.logHistogram(
          b.map(Tuple1(_)).toDF("v"), "v", 16))
        .groupBy(col("bucket")).agg(sum(col("c")).as("c")),
      16, Seq(0.5, 0.9, 0.99)).collect().map(_.toSeq).toSeq
    val direct = graft.api.TrainingData.logHistQuantiles(
      (a ++ b).map(Tuple1(_)).toDF("v"), "v", 16, Seq(0.5, 0.9, 0.99))
      .collect().map(_.toSeq).toSeq
    assert(merged == direct)
  }

  test("kmvDistinct: exact below k, ~1/sqrt(k) estimate above, deterministic") {
    // 100 distinct values < k = 64? No — use k = 64 with 40 values:
    // exact path reports the true count
    val small = (1L to 40L).map(Tuple1(_)).toDF("v")
    val rs = graft.api.TrainingData.kmvDistinct(small, "v", k = 64)
      .collect().head
    assert(rs.getInt(0) == 64 && rs.getLong(1) == 40L &&
      rs.getLong(3) == 40L)
    // 20 000 distinct values ≫ k = 256: estimator within 4/sqrt(k) ≈ 25%
    // (deterministic — this is a fixed property of sha256 on 1..20000,
    // not a flaky statistical assertion)
    val big = (1L to 20000L).map(Tuple1(_)).toDF("v")
    val rb = graft.api.TrainingData.kmvDistinct(big, "v", k = 256)
      .collect().head
    val est = rb.getLong(3)
    assert(rb.getLong(1) == 256L)
    assert(math.abs(est - 20000L) <= 5000L, s"estimate $est off 20000")
    // duplicates don't move the estimate: the sketch sees distinct hashes
    val dup = big.union(big)
    val rd = graft.api.TrainingData.kmvDistinct(dup, "v", k = 256)
      .collect().head
    assert(rd.getLong(3) == est)
    // the merge law: per-shard k-mins union + re-reduce equals the
    // direct whole-set answer exactly
    val (sa, sb) = ((1L to 12000L), (8000L to 20000L))
    val merged = graft.api.TrainingData.kmvEstimateFromMins(
      graft.api.TrainingData.kmvMins(sa.map(Tuple1(_)).toDF("v"), "v", 256)
        .unionByName(graft.api.TrainingData.kmvMins(
          sb.map(Tuple1(_)).toDF("v"), "v", 256)),
      256).collect().head
    assert(merged.getLong(2) == rb.getLong(2) &&
      merged.getLong(3) == est)
  }

  test("ndcgAtK: perfect ranking = 1e6, inverted < 1e6, zero-gain NULL") {
    // query q1: scores rank docs exactly by gain → DCG = IDCG → 1e6
    val perfect = Seq(("q1", 30, 3L), ("q1", 20, 2L), ("q1", 10, 1L),
      ("q1", 5, 0L)).toDF("q", "s", "g")
    val p = graft.api.TrainingData.ndcgAtK(perfect, "q", "s", "g", 10)
      .collect().head
    assert(p.getLong(3) == 1000000L)
    // hand-check the DCG arithmetic: 3·1e6 + 2·630929 + 1·500000
    assert(p.getLong(1) == 3L * 1000000 + 2L * 630929 + 500000)
    // inverted ranking scores strictly below perfect
    val inverted = Seq(("q1", 30, 0L), ("q1", 20, 1L), ("q1", 10, 2L),
      ("q1", 5, 3L)).toDF("q", "s", "g")
    val i = graft.api.TrainingData.ndcgAtK(inverted, "q", "s", "g", 10)
      .collect().head
    assert(i.getLong(3) < 1000000L && i.getLong(3) > 0L)
    assert(i.getLong(2) == p.getLong(2)) // same gains → same IDCG
    // all-zero gains → NULL (undefined, not 0/0)
    val zero = Seq(("q2", 9, 0L), ("q2", 8, 0L)).toDF("q", "s", "g")
    assert(graft.api.TrainingData.ndcgAtK(zero, "q", "s", "g", 10)
      .collect().head.isNullAt(3))
    // k truncates: only the top-k ranks contribute
    val deep = (1 to 15).map(r => ("q3", 100 - r, 1L)).toDF("q", "s", "g")
    val dk = graft.api.TrainingData.ndcgAtK(deep, "q", "s", "g", 10)
      .collect().head
    val sum10 = Seq(1000000L, 630929L, 500000L, 430676L, 386852L, 356207L,
      333333L, 315464L, 301029L, 289064L).sum
    assert(dk.getLong(1) == sum10 && dk.getLong(3) == 1000000L)
  }

  test("bayesAverage: exact shrinkage, small groups pull harder, bounds") {
    // group a: 2 docs at 100; group b: 200 docs at 10 →
    // grand = (200 + 2000)·1e6 / 202; a shrinks far toward grand,
    // b barely moves
    val rows = ((1 to 2).map(_ => ("a", 100L)) ++
      (1 to 200).map(_ => ("b", 10L))).toDF("g", "v")
    val got = graft.api.TrainingData.bayesAverage(rows, "g", "v", 25L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val grand = 1000000L * 2200 / 202
    val shrunkA = (1000000L * 200 + 25 * grand) / 27
    val shrunkB = (1000000L * 2000 + 25 * grand) / 225
    assert(got("a") == ((2L, 100000000L, grand, shrunkA)))
    assert(got("b") == ((200L, 10000000L, grand, shrunkB)))
    // shrunk sits between the raw mean and the grand mean on both sides
    assert(shrunkA < 100000000L && shrunkA > grand)
    assert(shrunkB > 10000000L && shrunkB < grand)
    // and the small group moved proportionally farther
    assert((100000000L - shrunkA).toDouble / (100000000L - grand) >
      (shrunkB - 10000000L).toDouble / (grand - 10000000L))
  }

  test("conformalThreshold: exact rank, coverage property, small-group NULL") {
    // group a: scores 1..99 → n=99, rank = ceil(0.9*100) = 90 → the
    // 90th smallest = 90; group b: n=2 → rank = ceil(0.9*3) = 3 > 2 → NULL
    val rows = ((1 to 99).map(i => ("a", i.toLong)) ++
      Seq(("b", 5L), ("b", 6L))).toDF("g", "s")
    val got = graft.api.TrainingData
      .conformalThreshold(rows, "g", "s", keepPerMille = 900)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got("a") == ((99L, 90L, 90L)))
    assert(got("b") == ((2L, 3L, -1L)))
    // the guarantee the threshold exists for: >= 90% of calibration
    // scores sit at or below it
    assert((1 to 99).count(_ <= 90) * 10 >= 99 * 9)
  }

  test("winsorizedStats: discrete p05/p95 clip bounds, exact clipped mean") {
    // 1..100: ceil(5) = 5th smallest = 5, ceil(95) = 95th = 95;
    // clip 4 below, 5 above; winsorized sum = 4*5 + sum(5..95) + 5*95
    val rows = (1L to 100L).map(v => ("g", v)).toDF("g", "v")
    val r = graft.api.TrainingData.winsorizedStats(rows, "g", "v")
      .collect().head
    val wsum = 4L * 5 + (5L to 95L).sum + 5L * 95
    assert(r.getString(0) == "g" && r.getLong(1) == 100L)
    assert(r.getLong(2) == 5L && r.getLong(3) == 95L)
    assert(r.getLong(4) == 4L && r.getLong(5) == 5L)
    assert(r.getLong(6) == 1000000L * wsum / 100L)
  }

  test("matryoshkaAudit: exact retained norm, zero-vector NULL, mean") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f, 0.0f)),   // prefix2 1e12, full2 2e12
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // prefix2 = full2 → 1e6
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)))   // zero → NULL, out of mean
      .toDF("vec_id", "embedding")
    val got = graft.api.TrainingData
      .matryoshkaAudit(emb, "vec_id", "embedding", prefixDims = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))).toMap
    assert(got(1) == ((2000000000000L, 1000000000000L, 500000L, 750000L)))
    assert(got(2) == ((1000000000000L, 1000000000000L, 1000000L, 750000L)))
    assert(got(3) == ((0L, 0L, -1L, 750000L)))
  }

  test("essWeights: uniform = n, one-dominant ~ 1, scale-invariant, zeros") {
    // uniform weights: every share is exactly 10^7/4 → ESS = n exactly
    val uni = Seq(("g", 5.0), ("g", 5.0), ("g", 5.0), ("g", 5.0))
      .toDF("grp", "w")
    val ru = graft.api.TrainingData.essWeights(uni, "grp", "w")
      .collect().head
    assert(ru.getLong(1) == 4L && ru.getLong(2) == 4000L)
    assert(ru.getLong(3) == 1000000L)       // ESS/n = 1
    assert(ru.getLong(4) == 250000L)        // max share = 1/4 in micros
    assert(ru.getLong(5) == 0L)
    // one dominant weight: ESS collapses toward 1; max_share ~ 1
    val dom = (Seq(("g", 1000000.0)) ++ Seq.fill(9)(("g", 1.0)))
      .toDF("grp", "w")
    val rd = graft.api.TrainingData.essWeights(dom, "grp", "w")
      .collect().head
    assert(rd.getLong(2) >= 1000L && rd.getLong(2) < 1100L)
    assert(rd.getLong(4) > 999000L)
    // scale invariance: w and 1000·w give identical outputs (the
    // two-stage normalization divides the scale out before anything
    // else touches it)
    val s1 = graft.api.TrainingData.essWeights(
      Seq(("g", 1.0), ("g", 2.0), ("g", 3.0)).toDF("grp", "w"), "grp", "w")
      .collect().head
    val s2 = graft.api.TrainingData.essWeights(
      Seq(("g", 1000.0), ("g", 2000.0), ("g", 3000.0)).toDF("grp", "w"),
      "grp", "w").collect().head
    assert(s1.toSeq == s2.toSeq)
    // hand check on 1:2:3 — v1 = 3333333/6666666/10000000,
    // s1v = 19999999, v = 1666666/3333333/5000000, sv = 9999999,
    // sv2 = 1666666² + 3333333² + 5000000² → ESS exact from those
    val sv = 1666666L + 3333333L + 5000000L
    val sv2 = 1666666L * 1666666L + 3333333L * 3333333L +
      5000000L * 5000000L
    assert(s1.getLong(2) == 1000L * sv * sv / sv2)
    // all-zero weights: shares 0 → NULL ESS, zero max share
    val z = graft.api.TrainingData.essWeights(
      Seq(("g", 0.0), ("g", 0.0)).toDF("grp", "w"), "grp", "w")
      .collect().head
    assert(z.isNullAt(2) && z.getLong(4) == 0L && z.getLong(5) == 2L)
  }

  test("brierDecomposition: perfect = 0, constant forecaster resolution 0") {
    // perfect forecaster: p = o exactly → brier = rel = 0, res = unc
    val perfect = Seq((1.0, true), (0.0, false), (1.0, true), (0.0, false),
      (1.0, true)).toDF("p", "y")
    val rp = graft.api.TrainingData.brierDecomposition(perfect, "p", "y", 10)
      .collect().head
    assert(rp.getLong(0) == 5L && rp.getLong(1) == 3L)
    assert(rp.getLong(3) == 0L && rp.getLong(4) == 0L)
    // base rate 3/5 = 600000; unc = 0.6·0.4 = 240000; resolution: bins
    // p=0 (ebar 0) and p=1 (ebar 1e6) vs obar 600000:
    // (2·(600000² div 1e6) + 3·(400000² div 1e6)) div 5 = 240000
    assert(rp.getLong(7) == 600000L && rp.getLong(6) == 240000L)
    assert(rp.getLong(5) == 240000L)
    // constant forecaster at the base rate: resolution = 0 (one bin,
    // ebar = obar), reliability = 0 (pbar = ebar), brier = uncertainty
    val const = Seq((0.5, true), (0.5, false)).toDF("p", "y")
    val rc = graft.api.TrainingData.brierDecomposition(const, "p", "y", 10)
      .collect().head
    assert(rc.getLong(2) == 1L && rc.getLong(4) == 0L && rc.getLong(5) == 0L)
    assert(rc.getLong(3) == 250000L && rc.getLong(6) == 250000L)
    // out-of-range score raises the named error
    val bad = Seq((1.5, true)).toDF("p", "y")
    val e = intercept[Exception] {
      graft.api.TrainingData.brierDecomposition(bad, "p", "y", 10)
        .collect()
    }
    assert(e.getMessage.contains("brierDecomposition") ||
      e.getCause != null)
  }

  test("kaplanMeier: risk table, censoring leaves risk set without events") {
    // cohort: durations 1(event), 2(censored), 3(event), 3(event), 4(cens)
    val rows = Seq(("c", 1L, 1), ("c", 2L, 0), ("c", 3L, 1), ("c", 3L, 1),
      ("c", 4L, 0)).toDF("grp", "dur", "ev")
    val got = graft.api.TrainingData.kaplanMeier(rows, "grp", "dur", "ev")
      .collect()
    // event times only: t=1 (at_risk 5) and t=3 (at_risk 3 — the
    // censored t=2 row LEFT the risk set but appears in no output row)
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 3L))
    val t1 = got(0); val t3 = got(1)
    assert(t1.getLong(2) == 5L && t1.getLong(3) == 1L && t1.getLong(4) == 0L)
    assert(t3.getLong(2) == 3L && t3.getLong(3) == 2L && t3.getLong(4) == 0L)
    // hazard: 1e6/5 = 200000; then + 2e6/3 = 866666 cumulative
    assert(t1.getLong(5) == 200000L)
    assert(t3.getLong(5) == 200000L + 2000000L / 3L)
    // survival micro = round(exp(-H)) — spot the monotone decrease
    assert(t1.getLong(6) > t3.getLong(6) && t3.getLong(6) > 0L)
  }

  test("frequentItemPairs: Apriori prune, exact supports, confidence, lift") {
    val baskets = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"),      // duplicate (1,a) dedups
      (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"),                 // c has support 1 → pruned
      (4L, "a"), (4L, "b")).toDF("b", "i")
    val got = graft.api.TrainingData.frequentItemPairs(baskets, "b", "i",
      minSupport = 2L).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "a" && r.getString(1) == "b")
    assert(r.getLong(2) == 3L)                   // s_ab
    assert(r.getLong(3) == 4L && r.getLong(4) == 3L) // s_a, s_b
    assert(r.getLong(5) == 4L)                   // n_baskets
    assert(r.getLong(6) == 750000L)              // conf a→b = 3/4
    assert(r.getLong(7) == 1000000L)             // conf b→a = 3/3
    // lift = (750000 · 4) div 3 = 1000000 — independence exactly
    assert(r.getLong(8) == 1000000L)
  }

  test("kmvOverlap: identical sets J=1, disjoint J=0, subset containment") {
    val a = (1L to 5000L).map(Tuple1(_)).toDF("v")
    val same = graft.api.TrainingData.kmvOverlap(a, a, "v", 64)
      .collect().head
    assert(same.getLong(1) == 64L && same.getLong(2) == 64L)
    assert(same.getLong(5) == 1000000L)          // jaccard = 1
    assert(same.getLong(6) == 0L && same.getLong(7) == 0L)
    val b = (10001L to 15000L).map(Tuple1(_)).toDF("v")
    val disj = graft.api.TrainingData.kmvOverlap(a, b, "v", 64)
      .collect().head
    assert(disj.getLong(2) == 0L && disj.getLong(5) == 0L &&
      disj.getLong(4) == 0L)
    // A ⊂ U: every union min in B(=U) too → only_b counts A's misses
    val u = (1L to 10000L).map(Tuple1(_)).toDF("v")
    val sub = graft.api.TrainingData.kmvOverlap(a, u, "v", 256)
      .collect().head
    assert(sub.getLong(7) == 0L || sub.getLong(6) == 0L)
    // jaccard estimate near the true 0.5 (deterministic sha property)
    assert(math.abs(sub.getLong(5) - 500000L) < 150000L)
  }

  test("dupGraphStats: degrees, histogram, assortativity sign on a star") {
    // star graph 0-1, 0-2, 0-3: hub degree 3, leaves 1 — maximally
    // DISassortative (every edge joins deg 3 to deg 1) → sign = -1, r² = 1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("d1", "d2")
    val rs = graft.api.TrainingData.dupGraphStats(star, "d1", "d2")
      .collect()
    val byDeg = rs.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDeg == Map(1L -> 3L, 3L -> 1L))
    val h = rs.head
    assert(h.getLong(2) == 4L && h.getLong(3) == 3L && h.getLong(4) == 3L)
    assert(h.getInt(5) == -1 && h.getLong(6) == 1000000L)
    // a clique (triangle): all degrees equal → zero variance → NULL r²
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("d1", "d2")
    val rt = graft.api.TrainingData.dupGraphStats(tri, "d1", "d2")
      .collect().head
    assert(rt.getInt(5) == 0 && rt.isNullAt(6))
  }

  test("informationGain: perfect feature = H(Y), independent ~ 0, ratio") {
    // feature determines label exactly → H(Y|X) = 0, IG = H(Y)
    val perfect = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("f", "y")
    val rp = graft.api.TrainingData.informationGain(perfect, "f", "y")
      .collect().head
    // H(Y) with p = 1/2, 1/2: 2·round(0.5·ln2·1e6) = 693148
    assert(rp.getLong(3) == 2L * 346574L)
    assert(rp.getLong(4) == 0L)                      // H(Y|X) = 0
    assert(rp.getLong(5) == rp.getLong(3))           // IG = H(Y)
    assert(rp.getLong(7) == 1000000L)                // gain ratio = 1
    // independent feature: every (f, y) cell equal → IG = 0
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("f", "y")
    val ri = graft.api.TrainingData.informationGain(indep, "f", "y")
      .collect().head
    assert(ri.getLong(5) == 0L && ri.getLong(7) == 0L)
  }

  test("kmvRollingDistinct: window union equals a fresh whole-window sketch") {
    // three days of values with overlap; window = 2 days
    val rows = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L),
      (1L, 3L), (1L, 4L),
      (3L, 5L)) // note: day 2 absent — windows clamp to observed days
      .map { case (day, v) =>
        (new java.sql.Timestamp(day * 86400000L), v)
      }.toDF("ts", "v")
    val got = graft.api.TrainingData
      .kmvRollingDistinct(rows, "ts", "v", k = 16, windowDays = 2)
      .collect()
    // observed days only: 0, 1, 3
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 3L))
    val byDay = got.map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    // day 0: just day 0 → 3 distinct; day 1: days {0,1} → {1,2,3,4} = 4;
    // day 3: only day 3 in window (day 2 absent) → 1
    assert(byDay(0L) == ((1L, 3L, 3L)))
    assert(byDay(1L) == ((2L, 4L, 4L)))
    assert(byDay(3L) == ((1L, 1L, 1L)))
    // merge law at scale: rolling estimate for the last day over a wide
    // window equals kmvDistinct of the union — same k, same hashes
    val many = (1L to 3000L).map(v =>
      (new java.sql.Timestamp((v % 5) * 86400000L), v)).toDF("ts", "v")
    val rolling = graft.api.TrainingData
      .kmvRollingDistinct(many, "ts", "v", k = 64, windowDays = 5)
      .collect().maxBy(_.getLong(0))
    val direct = graft.api.TrainingData.kmvDistinct(
      many.select(col("v")), "v", k = 64).collect().head
    assert(rolling.getLong(4) == direct.getLong(3),
      s"rolling ${rolling.getLong(4)} vs direct ${direct.getLong(3)}")
  }

  test("psiDrift: identical slices ~ 0, disjoint large, smoothing finite") {
    val a = (1L to 100L).map(v => Tuple1(v.toDouble)).toDF("v")
    val same = graft.api.TrainingData.psiDrift(a, a, "v", 10)
      .collect()
    assert(same.forall(_.getLong(5) == 0L))          // identical → 0 terms
    assert(same.head.getLong(6) == 0L)
    // disjoint ranges: every bin one-sided, PSI far above 0.25
    val b = (1001L to 1100L).map(v => Tuple1(v.toDouble)).toDF("v")
    val disj = graft.api.TrainingData.psiDrift(a, b, "v", 10)
      .collect()
    assert(disj.head.getLong(6) > 250000L)
    // smoothing: no NULL/infinite terms despite empty bins on each side
    assert(disj.forall(r => !r.isNullAt(5)))
  }

  test("aucBySlice: per-slice midranks match aucExact; gap over slices") {
    val rows = Seq(
      // slice p: perfect separation → 1e6
      ("p", 10L, true), ("p", 9L, true), ("p", 1L, false), ("p", 2L, false),
      // slice r: anti-predictive → 0
      ("r", 1L, true), ("r", 2L, true), ("r", 9L, false), ("r", 10L, false),
      // slice s: single-class → NULL, out of min/max
      ("s", 5L, true), ("s", 6L, true)).toDF("g", "s", "y")
    val got = graft.api.TrainingData.aucBySlice(rows, "g", "s", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("p").getLong(3) == 1000000L)
    assert(got("r").getLong(3) == 0L)
    assert(got("s").isNullAt(3))
    assert(got("p").getLong(4) == 0L && got("p").getLong(5) == 1000000L)
    assert(got("p").getLong(6) == 1000000L)          // gap = max − min
    // per-slice value equals the global aucExact run on that slice alone
    val solo = graft.api.TrainingData.aucExact(
      rows.filter(col("g") === "p"), "s", "y").collect().head
    assert(solo.getLong(2) == got("p").getLong(3))
  }

  test("weightedQuantiles: mass-weighted ranks, equal-weight = order stat") {
    // values 1..10 weighted by themselves: W = 55, p50 rank = 28,
    // cumulative reaches 28 at v = 7 — far above the by-row median 5
    val m = (1L to 10L).map(v => ("g", v, v)).toDF("grp", "v", "w")
    val got = graft.api.TrainingData
      .weightedQuantiles(m, "grp", "v", "w", Seq(0.5, 1.0))
      .collect().map(r => r.getLong(1) -> r).toMap
    assert(got(500000L).getLong(2) == 55L && got(500000L).getLong(3) == 28L)
    assert(got(500000L).getLong(4) == 7L)
    assert(got(1000000L).getLong(4) == 10L)
    // equal weights reduce to the plain discrete order statistic
    val eq = (1L to 10L).map(v => ("g", v, 1L)).toDF("grp", "v", "w")
    val ge = graft.api.TrainingData
      .weightedQuantiles(eq, "grp", "v", "w", Seq(0.5))
      .collect().head
    assert(ge.getLong(4) == 5L)
    // zero-weight values never satisfy a rank on their own; an
    // all-zero group vanishes (w_total = 0)
    val z = Seq(("g", 1L, 0L), ("g", 2L, 0L)).toDF("grp", "v", "w")
    assert(graft.api.TrainingData
      .weightedQuantiles(z, "grp", "v", "w", Seq(0.5)).count() == 0L)
  }

  test("cohenKappaWeighted: perfect = 1e6, inverted = -1e6, constant NULL") {
    val perfect = Seq((0L, 0L), (1L, 1L), (2L, 2L)).toDF("a", "b")
    val rp = graft.api.TrainingData.cohenKappaWeighted(perfect, "a", "b")
      .collect().head
    assert(rp.getLong(2) == 0L && rp.getLong(4) == 1000000L)
    // two raters in perfect opposition on {0,1}: κ = −1 exactly
    val inv = Seq((0L, 1L), (1L, 0L)).toDF("a", "b")
    val ri = graft.api.TrainingData.cohenKappaWeighted(inv, "a", "b")
      .collect().head
    assert(ri.getLong(4) == -1000000L)
    // quadratic penalty: a 0-vs-2 miss costs 4× a 0-vs-1 miss — with
    // identical marginals the distant-miss κ is strictly lower
    def kappa(pairs: Seq[(Long, Long)]): Long =
      graft.api.TrainingData
        .cohenKappaWeighted(pairs.toDF("a", "b"), "a", "b")
        .collect().head.getLong(4)
    val near = kappa(Seq((0L, 0L), (1L, 1L), (2L, 2L), (0L, 1L), (1L, 0L),
      (2L, 2L)))
    val far = kappa(Seq((0L, 0L), (1L, 1L), (2L, 2L), (0L, 2L), (2L, 0L),
      (1L, 1L)))
    assert(far < near)
    // both raters constant: no chance disagreement → NULL
    val const = Seq((1L, 1L), (1L, 1L)).toDF("a", "b")
    assert(graft.api.TrainingData.cohenKappaWeighted(const, "a", "b")
      .collect().head.isNullAt(4))
  }

  test("mannWhitneyU: complete separation, all-tied NULL, empty-side NULL") {
    // A = {1,2,3} strictly below B = {4,5,6}: U_A = 0, AUC = 0,
    // z² = 3·81·30/(9·210) = 3857142 micros (z ≈ −1.964)
    val sep = Seq((true, 1L), (true, 2L), (true, 3L),
      (false, 4L), (false, 5L), (false, 6L)).toDF("ia", "v")
    val r = graft.api.TrainingData.mannWhitneyU(sep, "ia", "v").collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 0L)       // u_doubled
    assert(r.getLong(3) == 0L)       // auc_micros
    assert(r.getLong(4) == -1L)      // z_sign
    assert(r.getLong(5) == 3857142L) // z_sq_micros
    // every row the same value: midranks give AUC = 1/2 exactly, and
    // the tie correction zeroes the variance → z² NULL
    val tied = Seq((true, 7L), (true, 7L), (false, 7L), (false, 7L))
      .toDF("ia", "v")
    val t = graft.api.TrainingData.mannWhitneyU(tied, "ia", "v")
      .collect().head
    assert(t.getLong(3) == 500000L && t.isNullAt(5))
    // one empty side → all statistics NULL
    val one = Seq((true, 1L), (true, 2L)).toDF("ia", "v")
    val o = graft.api.TrainingData.mannWhitneyU(one, "ia", "v")
      .collect().head
    assert(o.isNullAt(2) && o.isNullAt(3) && o.isNullAt(5))
  }

  test("theilSenSlope: pairwise slope median, sign-explicit negatives") {
    // points (0,0),(1,2),(2,4),(3,5): six slopes sorted
    // [1e6, 1.5e6, 1666666, 2e6, 2e6, 2e6] → median 1833333.0
    val pts = Seq((0L, 0L), (1L, 2L), (2L, 4L), (3L, 5L)).toDF("x", "y")
    val r = graft.api.TrainingData.theilSenSlope(pts, "x", "y")
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L)
    assert(r.getLong(2) == 0L && r.getLong(3) == 3L)
    assert(r.getDouble(4) == 1833333.0)
    // declining series: trunc toward zero on the ABS, then re-sign
    val dn = Seq((0L, 10L), (1L, 8L)).toDF("x", "y")
    val d = graft.api.TrainingData.theilSenSlope(dn, "x", "y")
      .collect().head
    assert(d.getDouble(4) == -2000000.0)
  }

  test("mcNemar: discordant cells only, continuity clamp, agreement NULL") {
    // 3 both-right, 1 both-wrong, b = 5 (A right/B wrong), c = 2
    val rows =
      Seq.fill(3)((true, true, true)) ++ Seq.fill(1)((true, false, false)) ++
        Seq.fill(5)((true, true, false)) ++ Seq.fill(2)((true, false, true))
    val df = rows.toDF("label", "pa", "pb")
    val r = graft.api.TrainingData.mcNemar(df, "label", "pa", "pb")
      .collect().head
    assert(r.getLong(0) == 11L && r.getLong(1) == 3L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 5L && r.getLong(4) == 2L)
    // χ² = 1e6·(|5−2|−1)²/7 = 4e6 div 7
    assert(r.getLong(5) == 4000000L / 7L)
    // |b−c| ≤ 1 clamps the corrected numerator at 0, not negative
    val even = (Seq.fill(2)((true, true, false)) ++
      Seq.fill(2)((true, false, true))).toDF("label", "pa", "pb")
    assert(graft.api.TrainingData.mcNemar(even, "label", "pa", "pb")
      .collect().head.getLong(5) == 0L)
    // b + c = 0 (the models never disagree) → NULL
    val agree = Seq((true, true, true), (false, false, false))
      .toDF("label", "pa", "pb")
    assert(graft.api.TrainingData.mcNemar(agree, "label", "pa", "pb")
      .collect().head.isNullAt(5))
  }

  test("bhFdr: step-up rule rejects exactly the below-threshold prefix") {
    // s1 all-positive and s2 all-negative (z² = 10 each); s3–s5 at the
    // pooled rate (z² = 0) — BH at q = 0.1 over m = 5 rejects exactly
    // {s1, s2}: p̃ = exp(−5) ≈ 6738 ≤ 20000/40000, rank-3 p̃ = 1e6 > 60000
    val rows = (1 to 10).flatMap(i => Seq(
      ("s1", true), ("s2", false),
      ("s3", i <= 5), ("s4", i <= 5), ("s5", i <= 5))).toDF("s", "f")
    val got = graft.api.TrainingData.bhFdr(rows, "s", "f", 100000L)
      .collect()
    assert(got.length == 5)
    val byName = got.map(r => r.getString(0) -> r).toMap
    assert(byName("s1").getLong(3) == 10000000L) // z² micros
    assert(byName("s1").getLong(4) == 6738L)     // exp(−5) micros
    assert(byName("s3").getLong(3) == 0L &&
      byName("s3").getLong(4) == 1000000L)
    assert(got.count(_.getBoolean(8)) == 2)
    assert(byName("s1").getBoolean(8) && byName("s2").getBoolean(8))
    assert(byName("s1").getInt(7) == 2) // k_star broadcast on every row
  }

  test("isotonicCalibration: PAV pools the violating prefix, keeps the tail") {
    // raw rates [1/2, 0/2, 2/2]: buckets 0,1 violate monotonicity and
    // pool to 1/4; bucket 2 stands — the max-min identity exactly
    val rows = Seq((0L, true), (0L, false), (1L, false), (1L, false),
      (2L, true), (2L, true)).toDF("b", "y")
    val got = graft.api.TrainingData.isotonicCalibration(rows, "b", "y")
      .collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(got.map(_.getLong(3)).toSeq == Seq(500000L, 0L, 1000000L))
    assert(got.map(_.getLong(4)).toSeq == Seq(250000L, 250000L, 1000000L))
    // already-monotone input is a fixed point
    val mono = Seq((0L, false), (1L, true), (1L, false), (2L, true))
      .toDF("b", "y")
    val m = graft.api.TrainingData.isotonicCalibration(mono, "b", "y")
      .collect()
    assert(m.map(_.getLong(4)).toSeq == Seq(0L, 500000L, 1000000L))
  }

  test("groupKFold: serpentine balance, whole groups, deterministic ties") {
    // sizes 10,9,8,7,6,5,4 over k=3: folds 0,1,2,2,1,0,0 →
    // totals 19/15/15 (within max-group-size of even)
    val rows = Seq(("g1", 10), ("g2", 9), ("g3", 8), ("g4", 7),
      ("g5", 6), ("g6", 5), ("g7", 4))
      .flatMap { case (g, n) => Seq.fill(n)(Tuple1(g)) }.toDF("g")
    val got = graft.api.TrainingData.groupKFold(rows, "g", 3).collect()
    val folds = got.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(folds == Map("g1" -> 0L, "g2" -> 1L, "g3" -> 2L, "g4" -> 2L,
      "g5" -> 1L, "g6" -> 0L, "g7" -> 0L))
    val totals = got.map(r => r.getLong(3) -> r.getLong(4)).toMap
    assert(totals == Map(0L -> 19L, 1L -> 15L, 2L -> 15L))
    // every group appears exactly once — no group spans folds
    assert(got.map(_.getString(0)).distinct.length == 7)
  }

  test("logRankTest: separated curves accumulate O−E, identical curves zero") {
    // A churns at t=1,2; B at t=5,6 — hand-walked E/V per event time
    val sep = Seq((true, 1L, 1), (true, 2L, 1), (false, 5L, 1),
      (false, 6L, 1)).toDF("ia", "dur", "ev")
    val r = graft.api.TrainingData.logRankTest(sep, "ia", "dur", "ev")
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 4L && r.getLong(4) == 2L)
    assert(r.getLong(5) == 833333L)  // E_a = 500000 + 333333 + 0 + 0
    assert(r.getLong(6) == 1166667L) // O−E micros
    assert(r.getLong(7) == 472222L)  // V = 250000 + 222222 + 0 + 0
    assert(r.getLong(8) ==
      (BigInt(1166667L) * 1166667L / 472222L).toLong)
    // mirrored cohorts: O = E at every time → χ² = 0
    val same = Seq((true, 1L, 1), (false, 1L, 1), (true, 2L, 1),
      (false, 2L, 1)).toDF("ia", "dur", "ev")
    assert(graft.api.TrainingData.logRankTest(same, "ia", "dur", "ev")
      .collect().head.getLong(8) == 0L)
  }

  test("krippendorffAlpha: perfect 1e6, chance 0, single-label NULL") {
    // item1 agrees, item2 splits: D_o = D_e → α = 0 exactly
    val chance = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"))
      .toDF("item", "label")
    val c = graft.api.TrainingData
      .krippendorffAlpha(chance, "item", "label").collect().head
    assert(c.getLong(0) == 2L && c.getLong(1) == 4L && c.getLong(2) == 2L)
    assert(c.getLong(3) == 2000000L && c.getLong(4) == 0L)
    // both items agree (on different labels) → D_o = 0 → α = 1
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("item", "label")
    assert(graft.api.TrainingData
      .krippendorffAlpha(perfect, "item", "label")
      .collect().head.getLong(4) == 1000000L)
    // one label corpus-wide: D_e = 0 → NULL (agreement undefined)
    val single = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a"))
      .toDF("item", "label")
    assert(graft.api.TrainingData
      .krippendorffAlpha(single, "item", "label")
      .collect().head.isNullAt(4))
    // a 1-rater item is unpairable: contributes nothing
    val sparse = Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("item", "label")
    val s = graft.api.TrainingData
      .krippendorffAlpha(sparse, "item", "label").collect().head
    assert(s.getLong(0) == 1L && s.getLong(1) == 2L)
  }

  test("jsDivergence: identical 0, disjoint ln2, absent-side terms finite") {
    val a = Seq("x", "x", "y").toDF("v")
    val same = graft.api.TrainingData.jsDivergence(a, a, "v")
      .collect().head
    assert(same.getLong(3) == 0L)
    // fully disjoint supports → JSD = ln 2 (the upper bound), finite
    // WITHOUT smoothing (each side contributes ½·ln 2 per value)
    val b = Seq("z").toDF("v")
    val d = graft.api.TrainingData
      .jsDivergence(Seq("w").toDF("v"), b, "v").collect().head
    assert(d.getLong(2) == 2L)
    assert(d.getLong(3) == 346574L * 2L) // 2·round(½ln2·1e6)
  }

  test("quantileNormalize: shifted groups land on identical pooled values") {
    // g2 is g1 shifted by +10 — identical within-group SHAPE, so both
    // groups must map position-for-position onto the same pooled values
    val rows = (Seq(1L, 2L, 3L, 4L, 5L).map(("g1", _)) ++
      Seq(11L, 12L, 13L, 14L, 15L).map(("g2", _))).toDF("g", "v")
    val got = graft.api.TrainingData.quantileNormalize(rows, "g", "v", 10)
      .collect()
    def norms(g: String) = got.filter(_.getString(0) == g)
      .sortBy(_.getLong(1)).map(_.getLong(4)).toSeq
    assert(norms("g1") == norms("g2"))
    // hand-walked: levels 1,3,5,7,9 → pooled ceil-ranks 1,3,5,7,9 →
    // pooled order statistics 1,3,5,12,14
    assert(norms("g1") == Seq(1L, 3L, 5L, 12L, 14L))
  }

  test("cramersV: perfect association 1e6, independence 0, zero cells counted") {
    val perfect = (Seq.fill(5)(("a1", "b1")) ++ Seq.fill(5)(("a2", "b2")))
      .toDF("a", "b")
    val p = graft.api.TrainingData.cramersV(perfect, "a", "b")
      .collect().head
    // χ² = n = 10 only when the two EMPTY cells contribute their
    // (0−e)²/e terms — the full-grid check
    assert(p.getLong(3) == 10000000L)
    assert(p.getLong(4) == 1000000L) // V² = 1
    val indep = Seq(("a1", "b1"), ("a1", "b2"), ("a2", "b1"),
      ("a2", "b2")).flatMap(Seq.fill(2)(_)).toDF("a", "b")
    val i = graft.api.TrainingData.cramersV(indep, "a", "b")
      .collect().head
    assert(i.getLong(3) == 0L && i.getLong(4) == 0L)
    // a single-category column has no association to measure → NULL
    val degen = Seq(("a1", "b1"), ("a1", "b2")).toDF("a", "b")
    assert(graft.api.TrainingData.cramersV(degen, "a", "b")
      .collect().head.isNullAt(4))
  }

  test("cvmTwoSample: hand-walked gap, identical samples zero") {
    // A = {1}, B = {2}: ECDF gap 1 on the first point → T = 1/4
    val d = graft.api.TrainingData.cvmTwoSample(
      Seq((true, 1L), (false, 2L)).toDF("ia", "v"), "ia", "v")
      .collect().head
    assert(d.getLong(0) == 1L && d.getLong(1) == 1L)
    assert(d.getLong(2) == 250000L)
    val same = graft.api.TrainingData.cvmTwoSample(
      Seq((true, 1L), (false, 1L), (true, 2L), (false, 2L))
        .toDF("ia", "v"), "ia", "v").collect().head
    assert(same.getLong(2) == 0L)
    // one empty side → NULL
    assert(graft.api.TrainingData.cvmTwoSample(
      Seq((true, 1L), (true, 2L)).toDF("ia", "v"), "ia", "v")
      .collect().head.isNullAt(2))
  }

  test("kendallTauB: perfect +1, inverted -1, tie-corrected") {
    def tau(pts: Seq[(Long, Long)]) = graft.api.TrainingData
      .kendallTauB(pts.toDF("x", "y"), "x", "y").collect().head
    val p = tau(Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    assert(p.getLong(2) == 3L && p.getLong(3) == 0L)
    assert(p.getLong(6) == 1L && p.getLong(7) == 1000000L)
    val inv = tau(Seq((1L, 3L), (2L, 2L), (3L, 1L)))
    assert(inv.getLong(6) == -1L && inv.getLong(7) == 1000000L)
    // tie on x: C = 2, D = 0, one tied x-pair →
    // τ² = (4·10⁶ div 2) div 3 = 666666 (τ-b = 2/√6)
    val t = tau(Seq((1L, 1L), (1L, 2L), (2L, 3L)))
    assert(t.getLong(2) == 2L && t.getLong(4) == 1L && t.getLong(5) == 0L)
    assert(t.getLong(6) == 1L && t.getLong(7) == 666666L)
    // everything tied on one axis → comparable-pair product 0 → NULL
    assert(tau(Seq((1L, 1L), (1L, 2L))).isNullAt(7))
  }

  test("waterFill: caps bind in ratio order, remainder redistributes by weight") {
    val src = Seq(("s1", 100L, 1L), ("s2", 300L, 1L), ("s3", 1000L, 2L))
      .toDF("s", "sup", "w")
    val got = graft.api.TrainingData
      .waterFill(src, "s", "sup", "w", budget = 700L).collect()
    val alloc = got.map(r => r.getString(0) -> r.getLong(6)).toMap
    // s1 saturates (supply 100); λ = 2·10⁸ micros → s2 gets 200,
    // s3 (double weight) gets 400 — budget exactly consumed
    assert(alloc == Map("s1" -> 100L, "s2" -> 200L, "s3" -> 400L))
    assert(got.map(_.getLong(6)).sum == 700L)
    // budget above total supply: everyone capped at supply, λ NULL
    val all = graft.api.TrainingData
      .waterFill(src, "s", "sup", "w", budget = 5000L).collect()
    assert(all.forall(_.getBoolean(4)))
    assert(all.map(_.getLong(6)).sum == 1400L)
    // zero budget: nothing capped, zero allocations
    val zero = graft.api.TrainingData
      .waterFill(src, "s", "sup", "w", budget = 0L).collect()
    assert(zero.map(_.getLong(6)).sum == 0L)
  }

  test("cochranQ: k=2 equals uncorrected McNemar, degenerate NULL") {
    // b = 5 (only judge 0 right), c = 2, both-right 3, both-wrong 1:
    // Q = (b−c)²/(b+c) = 9/7 for k = 2 — the McNemar identity
    val rows = (Seq.fill(5)((true, true, false)) ++
      Seq.fill(2)((true, false, true)) ++ Seq.fill(3)((true, true, true)) ++
      Seq.fill(1)((true, false, false))).toDF("label", "p0", "p1")
    val r = graft.api.TrainingData.cochranQ(rows, "label", Seq("p0", "p1"))
      .collect().head
    assert(r.getLong(0) == 11L && r.getLong(1) == 2L && r.getLong(2) == 13L)
    assert(r.getLong(3) == 9000000L / 7L)
    // every example all-success → zero within-example variance → NULL
    val flat = Seq.fill(4)((true, true, true)).toDF("label", "p0", "p1")
    assert(graft.api.TrainingData.cochranQ(flat, "label", Seq("p0", "p1"))
      .collect().head.isNullAt(3))
  }

  test("largestRemainder: exact-sum apportionment, remainder order, ties") {
    // Hare classic: weights 47/29/24, 10 seats → quotas 4.7/2.9/2.4 →
    // bases 4/2/2, two leftovers to the largest remainders (b, then a)
    val src = Seq(("a", 47L), ("b", 29L), ("c", 24L)).toDF("s", "w")
    val got = graft.api.TrainingData.largestRemainder(src, "s", "w", 10L)
      .collect()
    val alloc = got.map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(alloc == Map("a" -> 5L, "b" -> 3L, "c" -> 2L))
    assert(got.map(_.getLong(5)).sum == 10L)
    // equal weights: ties break by source id — 'a' wins the odd seat
    val eq = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("s", "w")
    val e = graft.api.TrainingData.largestRemainder(eq, "s", "w", 10L)
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(e == Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
  }

  test("mantelHaenszel: single-stratum OR = ad/bc, no-discordance NULL") {
    def rows(n: Seq[(String, Boolean, Boolean)]) =
      n.toDF("st", "e", "o")
    // a=4, b=1, c=1, d=4 → OR = 16 exactly
    val one = rows(Seq.fill(4)(("s", true, true)) ++
      Seq(("s", true, false), ("s", false, true)) ++
      Seq.fill(4)(("s", false, false)))
    val r = graft.api.TrainingData.mantelHaenszel(one, "st", "e", "o")
      .collect().head
    assert(r.getLong(1) == 4L && r.getLong(2) == 1L &&
      r.getLong(3) == 1L && r.getLong(4) == 4L)
    assert(r.getLong(7) == 16000000L)
    // two identical strata pool to the same OR (the MH point)
    val two = rows((Seq.fill(4)(("s1", true, true)) ++
      Seq(("s1", true, false), ("s1", false, true)) ++
      Seq.fill(4)(("s1", false, false))).map(t => t) ++
      (Seq.fill(4)(("s2", true, true)) ++
        Seq(("s2", true, false), ("s2", false, true)) ++
        Seq.fill(4)(("s2", false, false))))
    val t = graft.api.TrainingData.mantelHaenszel(two, "st", "e", "o")
      .collect()
    assert(t.forall(_.getLong(7) == 16000000L))
    // b·c = 0 in every stratum → Σ(bc/n) = 0 → NULL
    val nod = rows(Seq(("s", true, true), ("s", false, false)))
    assert(graft.api.TrainingData.mantelHaenszel(nod, "st", "e", "o")
      .collect().head.isNullAt(7))
  }

  test("cuped: y = x makes adjusted arm means equal, zero-variance raw") {
    // y ≡ x → θ = 1 → every arm's adjusted mean collapses onto the
    // pooled mean (all pre-period signal, nothing left to compare)
    val rows = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
      ("b", 4L, 4L), ("b", 5L, 5L), ("b", 6L, 6L)).toDF("arm", "x", "y")
    val got = graft.api.TrainingData.cuped(rows, "arm", "x", "y")
      .collect()
    assert(got.forall(_.getLong(4) == 1000000L)) // θ = 1
    assert(got.forall(_.getLong(5) == 3500000L)) // pooled mean 3.5
    // constant pre-period: no variance to remove → θ NULL, adj = raw
    val const = Seq(("a", 7L, 1L), ("b", 7L, 5L)).toDF("arm", "x", "y")
    val c = graft.api.TrainingData.cuped(const, "arm", "x", "y")
      .collect()
    assert(c.forall(_.isNullAt(4)))
    assert(c.map(r => r.getString(0) -> r.getLong(5)).toMap ==
      Map("a" -> 1000000L, "b" -> 5000000L))
  }

  test("kruskalWallis: k=2 equals the Mann-Whitney z², all-tied NULL") {
    // the same complete-separation fixture as the x159 spec: H for
    // k = 2 must equal the rank-sum z² = 3857142 micros exactly
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val r = graft.api.TrainingData.kruskalWallis(rows, "g", "v")
      .collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 3857142L)
    // tie-free: the correction is the identity
    assert(r.getLong(3) == 3857142L)
    // every row one value → zero rank variance → NULL
    val tied = Seq(("a", 7L), ("b", 7L), ("c", 7L), ("c", 7L))
      .toDF("g", "v")
    assert(graft.api.TrainingData.kruskalWallis(tied, "g", "v")
      .collect().head.isNullAt(3))
  }

  test("hodgesLehmannShift: exact weighted median of cross differences") {
    val a = Seq(5L, 6L, 7L).toDF("v")
    val b = Seq(1L, 2L, 3L).toDF("v")
    val r = graft.api.TrainingData.hodgesLehmannShift(a, b, "v")
      .collect().head
    // 9 differences sorted [2,3,3,4,4,4,5,5,6] → lower median 4
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getLong(3) == 9L)
    assert(r.getLong(5) == 4L)
    // identical samples → shift 0 (even count takes the LOWER median)
    val same = Seq(1L, 2L).toDF("v")
    assert(graft.api.TrainingData.hodgesLehmannShift(same, same, "v")
      .collect().head.getLong(5) == 0L)
  }

  test("friedmanTest: consistent ordering maxes χ², fully tied NULL") {
    // three blocks, the same treatment order every time → χ² = n(k−1)
    // = 6 exactly (the Friedman maximum for n=3, k=3), no ties
    val rows = Seq((1L, 2L, 3L), (10L, 20L, 30L), (2L, 4L, 6L))
      .toDF("a", "b", "c")
    val r = graft.api.TrainingData.friedmanTest(rows, Seq("a", "b", "c"))
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 0L)          // tie_sum
    assert(r.getLong(3) == 6000000L)
    assert(r.getLong(4) == 6000000L)    // tie-free correction = identity
    // every block fully tied → correction denominator 0 → NULL
    val flat = Seq((5L, 5L, 5L), (9L, 9L, 9L)).toDF("a", "b", "c")
    val f = graft.api.TrainingData.friedmanTest(flat, Seq("a", "b", "c"))
      .collect().head
    assert(f.getLong(2) == 48L && f.getLong(3) == 0L && f.isNullAt(4))
  }

  test("bleuNgramPrecision: clipped counts, brevity penalty, identity 1") {
    val cand = Seq("a b c").toDF("text")
    val ref = Seq("a b d").toDF("text")
    val r = graft.api.TrainingData.bleuNgramPrecision(cand, ref, "text")
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 2L && r.getLong(4) == 1L) // clip1, clip2
    assert(r.getLong(5) == 666666L && r.getLong(6) == 500000L)
    assert(r.getLong(7) == 1000000L) // equal lengths: no brevity penalty
    // bleu2 = √(p1·p2) = √(1/3), through the written-out IEEE sequence
    assert(r.getLong(8) == math.round(
      math.exp(0.5 * (math.log(2.0 / 3.0) + math.log(1.0 / 2.0))) * 1e6))
    // identical corpora → 1.0 across the board
    val same = graft.api.TrainingData
      .bleuNgramPrecision(cand, cand, "text").collect().head
    assert(same.getLong(5) == 1000000L && same.getLong(6) == 1000000L &&
      same.getLong(8) == 1000000L)
    // shorter candidate pays the brevity penalty
    val short = graft.api.TrainingData.bleuNgramPrecision(
      Seq("a b").toDF("text"), Seq("a b c d").toDF("text"), "text")
      .collect().head
    assert(short.getLong(7) < 1000000L)
  }

  test("piiScan: seeded counts, per-doc flag, redaction chars, clean docs") {
    val docs = Seq(
      ("s1", "reach me at a.b@x.org or c@d.io thanks"),    // 2 emails
      ("s1", "server 10.0.0.1 and card 4111111111111111"), // ip + card
      ("s1", "call +1 555-123-4567 now"),                  // phone
      ("s1", "nothing sensitive here"),
      ("s2", "clean")).toDF("src", "body")
    val got = graft.api.TrainingData.piiScan(docs, "src", "body")
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = got("s1")
    assert(s1.getLong(1) == 4L && s1.getLong(2) == 3L)
    assert(s1.getLong(3) == 750000L)
    assert(s1.getLong(4) == 2L && s1.getLong(5) == 1L &&
      s1.getLong(6) == 1L && s1.getLong(7) == 1L)
    // redacted chars = exact lengths of the matched spans
    val spans = Seq("a.b@x.org", "c@d.io", "10.0.0.1", "4111111111111111",
      "+1 555-123-4567").map(_.length.toLong).sum
    assert(s1.getLong(8) == spans)
    val s2 = got("s2")
    assert(s2.getLong(1) == 1L && s2.getLong(2) == 0L &&
      s2.getLong(3) == 0L && s2.getLong(8) == 0L)
  }

  test("moodsMedianTest: hand-walked 2x2, degenerate margin NULL") {
    // a = {1,2,3}, b = {4,5,6}: pooled lower median 3, above counts
    // (0, 3) → the classic fully-separated table, χ² = 6 exactly
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val got = graft.api.TrainingData.moodsMedianTest(rows, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getLong(1) == 3L && got("a").getLong(2) == 0L)
    assert(got("b").getLong(2) == 3L)
    assert(got("a").getLong(3) == 1500000L) // E[above] = 3·3/6
    assert(got("a").getLong(4) == 3000000L) // both cells, shared numerator
    assert(got("b").getLong(4) == 3000000L)
    assert(got("a").getLong(5) == 3L)       // pooled median
    assert(got("a").getLong(6) == 6000000L) // χ² = 6
    assert(got("a").getLong(7) == 1L)       // dof = k − 1
    // constant input: nothing above the median → χ² NULL
    val flat = Seq(("a", 7L), ("b", 7L)).toDF("g", "v")
    assert(graft.api.TrainingData.moodsMedianTest(flat, "g", "v")
      .collect().forall(_.isNullAt(4)))
  }

  test("runsTest: hand-walked runs/E/Var/z², median ties excluded") {
    // daily series 1,1,5,9,9,5 — median 5 excluded, signs 0,0,1,1 →
    // R = 2, n₁ = n₂ = 2, E = 3, Var = 2/3
    val rows = Seq((1L, 1L), (2L, 1L), (3L, 5L), (4L, 9L), (5L, 9L),
      (6L, 5L)).toDF("day", "v")
    val r = graft.api.TrainingData.runsTest(rows, "day", "v")
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 2L)          // two runs
    assert(r.getLong(4) == 3000000L)    // E[R]
    assert(r.getLong(5) == 666666L)     // ⌊10⁶·32/48⌋
    assert(r.getLong(6) == 1500001L)    // ⌊(10⁶)²/666666⌋
    // one-sided series (everything above/below) → NULL moments
    val oneSided = Seq((1L, 1L), (2L, 9L), (3L, 9L)).toDF("day", "v")
    assert(graft.api.TrainingData.runsTest(oneSided, "day", "v")
      .collect().head.isNullAt(4) ||
      graft.api.TrainingData.runsTest(oneSided, "day", "v")
        .collect().head.getLong(2) > 0)
  }

  test("emdPairs: hand-walked CDF gap sum") {
    // a = {1,1,3}, b = {1,3,3}: CDFs at v=1 are 2/3 vs 1/3, gap to the
    // next value is 2 → EMD = ⌊10⁶·2/3⌋−⌊10⁶/3⌋ times 2
    val rows = Seq(("a", 1L), ("a", 1L), ("a", 3L),
      ("b", 1L), ("b", 3L), ("b", 3L)).toDF("g", "v")
    val r = graft.api.TrainingData.emdPairs(rows, "g", "v")
      .collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "a" && r.head.getString(1) == "b")
    assert(r.head.getLong(2) == 3L && r.head.getLong(3) == 3L)
    assert(r.head.getLong(4) == (666666L - 333333L) * 2)
    // identical distributions → zero distance
    val same = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L))
      .toDF("g", "v")
    assert(graft.api.TrainingData.emdPairs(same, "g", "v")
      .collect().head.getLong(4) == 0L)
  }

  test("cliffsDelta: hand-walked pair counts and both effect sizes") {
    // a = {2,3}, b = {1,2}: cross pairs >,=,>,> → gt 3, tie 1, lt 0
    val rows = Seq((true, 2L), (true, 3L), (false, 1L), (false, 2L))
      .toDF("ia", "v")
    val r = graft.api.TrainingData.cliffsDelta(rows, "ia", "v")
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 3L && r.getLong(3) == 0L && r.getLong(4) == 1L)
    assert(r.getLong(5) == 750000L) // δ = 3/4
    assert(r.getLong(6) == 875000L) // CLES = 3.5/4
    // mirrored samples → δ exactly −750000 (sign-explicit division)
    val flipped = Seq((false, 2L), (false, 3L), (true, 1L), (true, 2L))
      .toDF("ia", "v")
    assert(graft.api.TrainingData.cliffsDelta(flipped, "ia", "v")
      .collect().head.getLong(5) == -750000L)
  }

  test("iccOneWay: perfect separation ICC=1, pure noise ICC=-1 (k=n_i=2)") {
    val sep = Seq(("i1", 1.0), ("i1", 1.0), ("i2", 5.0), ("i2", 5.0))
      .toDF("item", "r")
    val r1 = graft.api.TrainingData.iccOneWay(sep, "item", "r")
      .collect().head
    assert(r1.getLong(0) == 2L && r1.getLong(1) == 4L)
    assert(r1.getLong(2) == 16000000L && r1.getLong(3) == 0L) // MSB, MSW
    assert(r1.getLong(4) == 2000000L)  // n₀ = 2
    assert(r1.getLong(5) == 1000000L)  // ICC = 1
    // between-item variance zero → ICC = (0−MSW)/(0+MSW) = −1
    val noise = Seq(("i1", 1.0), ("i1", 5.0), ("i2", 1.0), ("i2", 5.0))
      .toDF("item", "r")
    assert(graft.api.TrainingData.iccOneWay(noise, "item", "r")
      .collect().head.getLong(5) == -1000000L)
    // a single item → NULL everything derived
    val one = Seq(("i1", 1.0), ("i1", 2.0)).toDF("item", "r")
    assert(graft.api.TrainingData.iccOneWay(one, "item", "r")
      .collect().head.isNullAt(5))
  }

  test("dispersionTest: hand-walked variance-to-mean and χ²") {
    // unit counts {1,1,4}: mean 2, s² = 3, D = 1.5, χ² = 3
    val rows = Seq("u1", "u2", "u3", "u3", "u3", "u3").toDF("unit")
    val r = graft.api.TrainingData.dispersionTest(rows, "unit")
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 6L)
    assert(r.getLong(2) == 2000000L)
    assert(r.getLong(3) == 1500000L)
    assert(r.getLong(4) == 3000000L)
    assert(r.getLong(5) == 2L)
    // equidispersed (all counts equal) → D = 0? no — D is var/mean, so
    // identical counts give zero variance → D = 0 exactly
    val flat = Seq("a", "b", "c").toDF("unit")
    assert(graft.api.TrainingData.dispersionTest(flat, "unit")
      .collect().head.getLong(3) == 0L)
  }
  test("mannKendallTrend: monotone series, tie-dead variance, duplicate x raises") {
    val up = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val r = graft.api.TrainingData.mannKendallTrend(up, "x", "y")
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)   // S = +3
    assert(r.getLong(2) == 66L)                        // 3·2·11, no ties
    assert(r.getLong(3) == 1000000L)                   // τ_a = 1
    assert(r.getLong(4) == 1090909L)                   // ⌊18e6·4/66⌋
    val down = Seq((1L, 3L), (2L, 2L), (3L, 1L)).toDF("x", "y")
    assert(graft.api.TrainingData.mannKendallTrend(down, "x", "y")
      .collect().head.getLong(3) == -1000000L)
    // fully tied values → Var·18 = 0 → NULL z², S = 0
    val flat = Seq((1L, 5L), (2L, 5L)).toDF("x", "y")
    val f = graft.api.TrainingData.mannKendallTrend(flat, "x", "y")
      .collect().head
    assert(f.getLong(1) == 0L && f.getLong(2) == 0L && f.isNullAt(4))
    // duplicate time points must RAISE, not silently mis-count
    val dup = Seq((1L, 1L), (1L, 2L)).toDF("x", "y")
    val e = intercept[Exception](
      graft.api.TrainingData.mannKendallTrend(dup, "x", "y").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("duplicate time points")))
  }

  test("chapmanEstimate: hand-walked smoothed estimate and variance") {
    val a = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    val b = Seq((1L, 2L), (5L, 6L), (7L, 8L)).toDF("id1", "id2")
    val r = graft.api.TrainingData
      .chapmanEstimate(a, b, Seq("id1", "id2")).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 3L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 5L) // (3·4)//2 − 1
    assert(r.getLong(4) == 2L) // (3·4·1·2)//(4·3)
    // zero overlap stays finite via the +1 smoothing
    val c = Seq((9L, 10L)).toDF("id1", "id2")
    assert(graft.api.TrainingData.chapmanEstimate(a, c, Seq("id1", "id2"))
      .collect().head.getLong(3) == 5L) // (3·2)//1 − 1
  }

  test("youdenThreshold: hand-walked argmax with full confusion") {
    val rows = Seq((true, 10L), (true, 9L), (false, 8L), (true, 7L),
      (false, 6L), (false, 5L)).toDF("lab", "v")
    val r = graft.api.TrainingData.youdenThreshold(rows, "lab", "v")
      .collect().head
    assert(r.getLong(0) == 7L)                       // threshold
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L) // tp, fp
    assert(r.getLong(3) == 0L && r.getLong(4) == 2L) // fn, tn
    assert(r.getLong(5) == 1000000L && r.getLong(6) == 333333L)
    assert(r.getLong(7) == 666667L)                  // J maximal here
    // one-class input → NULL J
    val oneClass = Seq((true, 1L), (true, 2L)).toDF("lab", "v")
    assert(graft.api.TrainingData.youdenThreshold(oneClass, "lab", "v")
      .collect().head.isNullAt(7))
  }

  test("rboOverlap: identical lists sum the truncated geometric series; disjoint = 0") {
    val ids = (1L to 10L)
    val listA = ids.map(i => (i, i)).toDF("id", "rank")
    val r = graft.api.TrainingData
      .rboOverlap(listA, listA, "id", "rank", 10).collect()
    assert(r.length == 10)
    assert(r.head.getLong(1) == 1L && r.last.getLong(1) == 10L)
    // Σ_d ⌊10⁶·9^(d−1)/10^d⌋ = 651320 (the truncated (1−p)/p series)
    assert(r.forall(_.getLong(3) == 651320L))
    val listB = ids.map(i => (i + 100L, i)).toDF("id", "rank")
    assert(graft.api.TrainingData
      .rboOverlap(listA, listB, "id", "rank", 10)
      .collect().forall(_.getLong(3) == 0L))
  }

  test("multipleTestingStepdown: hand-walked Holm/BY thresholds and verdicts") {
    // slice a: all flagged (z² = 80), b/c: none (z² = 20 each) — p̃
    // ranks (a, b, c) with p 0/45/45 micros; m = 3, H̃ = 1833333
    val rows = (Seq.fill(40)(("a", true)) ++ Seq.fill(40)(("b", false)) ++
      Seq.fill(40)(("c", false))).toDF("slice", "f")
    val got = graft.api.TrainingData
      .multipleTestingStepdown(rows, "slice", "f", 50000L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getInt(5) == 1 && got("a").getLong(4) == 0L)
    assert(got("b").getLong(4) == 45L && got("c").getLong(4) == 45L)
    assert(got("a").getLong(6) == 16666L)  // 50000/3
    assert(got("b").getLong(6) == 25000L)
    assert(got("c").getLong(6) == 50000L)
    assert(got("a").getLong(8) == 9090L)   // 1·5e10/5499999
    assert(got("b").getLong(8) == 18181L)
    assert(got("c").getLong(8) == 27272L)
    assert(got.values.forall(r => r.getBoolean(7) && r.getBoolean(9)))
    // flat input (no slice differs): p̃ NULL everywhere → nothing rejected
    val flat = (Seq.fill(4)(("a", true)) ++ Seq.fill(4)(("b", true)))
      .toDF("slice", "f")
    assert(graft.api.TrainingData
      .multipleTestingStepdown(flat, "slice", "f", 50000L)
      .collect().forall(r => !r.getBoolean(7) && !r.getBoolean(9)))
  }
  test("eigenvectorCentrality: path graph oscillation, clique uniformity") {
    // path 1–2–3 is bipartite: power iteration alternates, odd rounds
    // end at (½, 1, ½) — the exact integer states are pinned
    val path = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val got = graft.api.TrainingData.eigenvectorCentrality(path)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(1L) == (1L, 500000L))
    assert(got(2L) == (2L, 1000000L))
    assert(got(3L) == (1L, 500000L))
    // a triangle is regular: every node stays at the max
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("d1", "d2")
    assert(graft.api.TrainingData.eigenvectorCentrality(tri)
      .collect().forall(_.getLong(2) == 1000000L))
  }

  test("giniConcentration: hand-walked Lorenz and Gini, uniform = 0") {
    val rows = Seq("a", "b", "c", "c", "c", "c").toDF("g")
    val got = graft.api.TrainingData.giniConcentration(rows, "g")
      .collect()
    assert(got.map(_.getInt(2)).toSeq == Seq(1, 2, 3)) // ranks
    assert(got.map(_.getLong(3)).toSeq ==
      Seq(166666L, 333333L, 1000000L)) // Lorenz
    assert(got.forall(_.getLong(4) == 333333L)) // (30−24)/18
    val flat = Seq("a", "b", "c").toDF("g")
    assert(graft.api.TrainingData.giniConcentration(flat, "g")
      .collect().forall(_.getLong(4) == 0L))
  }

  test("permutationTestSum: constant values p=1, separated values p small") {
    // every relabeling of a constant column produces the same stat →
    // all B permutations are exactly as extreme → p = (1+B)/(B+1) = 1
    val const = (1L to 6L).map(i => (i, i % 2 == 0, 7L))
      .toDF("id", "ia", "v")
    val c = graft.api.TrainingData
      .permutationTestSum(const, "id", "ia", "v", b = 39)
      .collect().head
    assert(c.getLong(0) == 6L && c.getLong(1) == 3L)
    assert(c.getLong(6) == 1000000L)
    // complete separation (A = 100s, B = 0s): only the 2-in-20
    // all-or-nothing relabelings tie the observed extremeness — the
    // sha-deterministic count stays far below half
    val sep = Seq((1L, true, 100L), (2L, true, 100L), (3L, true, 100L),
      (4L, false, 0L), (5L, false, 0L), (6L, false, 0L))
      .toDF("id", "ia", "v")
    val r = graft.api.TrainingData
      .permutationTestSum(sep, "id", "ia", "v", b = 39)
      .collect().head
    assert(r.getLong(3) == 300L)           // observed A-sum
    assert(r.getLong(6) < 500000L)         // deterministic, replayable
    assert(r.getLong(6) >= 25000L)         // the 1/(B+1) floor
  }
  test("neymanAllocation: spread-weighted seats, zero-variance strata excluded") {
    // a: σ = round(√5e7) = 7071 (milli), c: σ = 14142, b: σ = 0 → out
    val rows = Seq(("a", 0.0), ("a", 10.0), ("b", 5.0), ("b", 5.0),
      ("c", 0.0), ("c", 20.0)).toDF("st", "v")
    val got = graft.api.TrainingData
      .neymanAllocation(rows, "st", "v", budget = 10L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "c"))
    assert(got("a").getLong(2) == 7071L && got("c").getLong(2) == 14142L)
    assert(got("a").getLong(3) == 14142L && got("c").getLong(3) == 28284L)
    assert(got("a").getLong(7) == 3L && got("c").getLong(7) == 7L)
    assert(got.values.map(_.getLong(7)).sum == 10L) // exact budget
  }

  test("hillTailIndex: hand-walked micro-nat mean, short input empty") {
    val rows = Seq(100L, 10L, 10L, 1L).toDF("v")
    val r = graft.api.TrainingData.hillTailIndex(rows, "v", k = 2)
      .collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 10L) // k, x_(k+1)
    assert(r.getLong(2) == 1151292L) // (4605170 − 2302585)/2
    assert(r.getLong(3) == 1000000000000L / 1151292L)
    // fewer than k+1 positive values → no tail to estimate
    assert(graft.api.TrainingData
      .hillTailIndex(Seq(5L).toDF("v"), "v", k = 2).collect().isEmpty)
  }

  test("cochranArmitage: perfect trend z²=20 exactly, flat trend 0") {
    val rows = Seq((0L, false), (0L, false), (1L, false), (1L, true),
      (2L, true), (2L, true)).toDF("s", "f")
    val r = graft.api.TrainingData.cochranArmitage(rows, "s", "f")
      .collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 12L)        // T′
    assert(r.getLong(4) == 20000000L)  // z² = 20, exactly
    val flat = Seq((0L, true), (0L, false), (1L, true), (1L, false))
      .toDF("s", "f")
    assert(graft.api.TrainingData.cochranArmitage(flat, "s", "f")
      .collect().head.getLong(4) == 0L)
    // degenerate margin (all flagged) → NULL
    val allPos = Seq((0L, true), (1L, true)).toDF("s", "f")
    assert(graft.api.TrainingData.cochranArmitage(allPos, "s", "f")
      .collect().head.isNullAt(4))
  }

  test("durbinWatson: ramp 0.6, alternation 3.0, constant NULL") {
    val ramp = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("x", "v")
    val r = graft.api.TrainingData.durbinWatson(ramp, "x", "v")
      .collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2500000L)
    assert(r.getLong(2) == 600000L)
    val alt = Seq((1L, 1L), (2L, 3L), (3L, 1L), (4L, 3L)).toDF("x", "v")
    assert(graft.api.TrainingData.durbinWatson(alt, "x", "v")
      .collect().head.getLong(2) == 3000000L)
    val const = Seq((1L, 5L), (2L, 5L)).toDF("x", "v")
    assert(graft.api.TrainingData.durbinWatson(const, "x", "v")
      .collect().head.isNullAt(2))
  }

  test("gTestDrift: complete separation 8·ln2, uniform 0") {
    val sep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("src", "cat")
    val got = graft.api.TrainingData.gTestDrift(sep, "src", "cat")
      .collect()
    assert(got.forall(_.getLong(2) == 1L))       // dof = 1×1
    assert(got.forall(_.getLong(3) == 2772588L)) // 4·round(ln2·1e6)
    assert(got.forall(_.getLong(4) == 5545176L)) // corpus G = 8·ln2
    val uni = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("src", "cat")
    assert(graft.api.TrainingData.gTestDrift(uni, "src", "cat")
      .collect().forall(_.getLong(4) == 0L))
  }
  test("dunnPostHoc: k=2 reproduces the Kruskal-Wallis z² constant") {
    // the x159/x179 separated fixture: one pair, z² must be 3857142
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "v")
    val r = graft.api.TrainingData.dunnPostHoc(rows, "g", "v")
      .collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getString(0) == "a" && row.getString(1) == "b")
    assert(row.getLong(4) == 2000000L && row.getLong(5) == 5000000L)
    assert(row.getLong(6) == 3857142L)
    // fully tied input → zero pooled rank variance → NULL
    val tied = Seq(("a", 7L), ("b", 7L)).toDF("g", "v")
    assert(graft.api.TrainingData.dunnPostHoc(tied, "g", "v")
      .collect().head.isNullAt(6))
  }

  test("empiricalBernstein: replays the exact IEEE sequence, n=1 NULL") {
    val rows = Seq(("a", 0L), ("a", 10L), ("b", 5L)).toDF("g", "v")
    val got = graft.api.TrainingData.empiricalBernstein(rows, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val l = java.lang.Double.toString(math.log(3.0 / 0.05)).toDouble
    // the identical operation order the column expression spells out
    val expected = math.round((math.sqrt((2.0 * ((2.0 * 100.0 - 100.0)
      / (2.0 * (2.0 - 1.0))) * l) / 2.0) + (3.0 * 10.0 * l) / 2.0)
      * 1000000.0)
    val a = got("a")
    assert(a.getLong(1) == 2L && a.getLong(2) == 10L)
    assert(a.getLong(3) == 5000000L)
    assert(a.getLong(4) == expected)
    assert(a.getLong(5) == 5000000L - expected)
    assert(a.getLong(6) == 5000000L + expected)
    assert(got("b").isNullAt(4)) // singleton slice has no bound
  }
  test("bordaFusion: hand-walked points, consensus wins, list count") {
    val la = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("q_id", "c_id", "rank")
    val lb = Seq((1L, 20L, 1), (1L, 30L, 2)).toDF("q_id", "c_id", "rank")
    val got = graft.api.TrainingData.bordaFusion(Seq(la, lb),
      poolK = 2, topK = 3).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getInt(4)))
      .toMap
    assert(got(20L) == (3L, 2L, 1)) // 1+2 points, both lists, fused #1
    assert(got(10L) == (2L, 1L, 2))
    assert(got(30L) == (1L, 1L, 3))
  }

  test("kendallW: perfect concordance 1, perfect discordance 0, tied NULL") {
    val conc = Seq((1L, 1L, 1L, 1L), (2L, 2L, 2L, 2L), (3L, 3L, 3L, 3L))
      .toDF("id", "a", "b", "c")
    val r = graft.api.TrainingData.kendallW(conc, "id",
      Seq("a", "b", "c")).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 1000000L)
    assert(r.getLong(3) == 6000000L) // χ² = m(n−1)W
    val disc = Seq((1L, 1L, 3L), (2L, 2L, 2L), (3L, 3L, 1L))
      .toDF("id", "a", "b")
    assert(graft.api.TrainingData.kendallW(disc, "id", Seq("a", "b"))
      .collect().head.getLong(2) == 0L)
    val tied = Seq((1L, 7L, 7L), (2L, 7L, 7L)).toDF("id", "a", "b")
    assert(graft.api.TrainingData.kendallW(tied, "id", Seq("a", "b"))
      .collect().head.isNullAt(2))
  }

  test("qqShift: constant-offset samples shift every decile equally") {
    val rows = ((1L to 10L).map(v => (true, v)) ++
      (11L to 20L).map(v => (false, v))).toDF("ia", "v")
    val got = graft.api.TrainingData.qqShift(rows, "ia", "v").collect()
    assert(got.length == 9)
    assert(got.forall(_.getLong(5) == -10L))
    val p50 = got.find(_.getLong(0) == 50L).get
    assert(p50.getLong(3) == 5L && p50.getLong(4) == 15L)
    assert(got.map(_.getLong(0)).toSeq == (1 to 9).map(_ * 10L))
  }

  test("theilIndex: equal values zero, within-equal groups put everything between") {
    val eq = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L))
      .toDF("g", "v")
    val e = graft.api.TrainingData.theilIndex(eq, "g", "v")
      .collect().head
    assert(e.getLong(0) == 4L && e.getLong(1) == 2L)
    assert(e.getLong(2) == 0L && e.getLong(3) == 0L && e.getLong(4) == 0L)
    // groups internally equal → T_within = 0 and total = between:
    // A (share 1/4, half the per-doc mean) and B (share 3/4)
    val two = Seq(("a", 1L), ("a", 1L), ("b", 3L), ("b", 3L))
      .toDF("g", "v")
    val t = graft.api.TrainingData.theilIndex(two, "g", "v")
      .collect().head
    val termA = math.round(1e6 * 0.25 * math.log(0.5))
    val termB = math.round(1e6 * 0.75 * math.log(1.5))
    assert(t.getLong(2) == termA + termB)
    assert(t.getLong(3) == termA + termB)
    assert(t.getLong(4) == 0L)
  }

  test("bowkerSymmetry: hand-walked pair terms, symmetric matrix zero, diagonal-only NULL") {
    val m = Seq(("a", "b", 3L), ("b", "a", 1L), ("a", "c", 2L))
      .toDF("i", "j", "n")
    val r = graft.api.TrainingData.bowkerSymmetry(m, "i", "j", "n")
      .collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 2L)
    // (3−1)²/4 + (2−0)²/2 = 1 + 2
    assert(r.getLong(2) == 3000000L)
    val sym = Seq(("a", "b", 4L), ("b", "a", 4L)).toDF("i", "j", "n")
    assert(graft.api.TrainingData.bowkerSymmetry(sym, "i", "j", "n")
      .collect().head.getLong(2) == 0L)
    val diag = Seq(("a", "a", 9L)).toDF("i", "j", "n")
    assert(graft.api.TrainingData.bowkerSymmetry(diag, "i", "j", "n")
      .collect().head.isNullAt(2))
  }

  test("hillDiversity: two equal sources read as 2 effective, dominance shrinks q2") {
    val eq = Seq(("a", 4L), ("b", 4L)).toDF("g", "v")
    val r = graft.api.TrainingData.hillDiversity(eq, "g", "v")
      .collect().head
    assert(r.getLong(0) == 2L)
    assert(math.abs(r.getLong(1) - 693147L) <= 2L) // ln 2 micro-nats
    assert(math.abs(r.getLong(2) - 2000000L) <= 5L) // exp(H) ≈ 2
    assert(r.getLong(3) == 2000000L) // q2 exact: 64/32
    assert(math.abs(r.getLong(4) - 1000000L) <= 2L) // evenness ≈ 1
    val dom = Seq(("a", 9L), ("b", 1L)).toDF("g", "v")
    val d = graft.api.TrainingData.hillDiversity(dom, "g", "v")
      .collect().head
    assert(d.getLong(3) == 1219512L) // 100/82 exact
    // single group: evenness undefined
    val one = Seq(("a", 5L)).toDF("g", "v")
    assert(graft.api.TrainingData.hillDiversity(one, "g", "v")
      .collect().head.isNullAt(4))
  }

  test("blandAltman: constant offset collapses the limits, spread case hand-walked") {
    val const = Seq((10L, 7L), (20L, 17L), (30L, 27L)).toDF("x", "y")
    val c = graft.api.TrainingData.blandAltman(const, "x", "y")
      .collect().head
    assert(c.getLong(0) == 3L && c.getLong(1) == 3000000L)
    assert(c.getLong(2) == 0L)
    assert(c.getLong(3) == 3000000L && c.getLong(4) == 3000000L)
    assert(c.getLong(5) == 0L && c.getLong(6) == 0L)
    // d = 0, 2: bias 1, sd = √2, LoA = 1e6 ± round(1.96·1414213)
    val two = Seq((5L, 5L), (7L, 5L)).toDF("x", "y")
    val t = graft.api.TrainingData.blandAltman(two, "x", "y")
      .collect().head
    assert(t.getLong(1) == 1000000L && t.getLong(2) == 1414213L)
    assert(t.getLong(3) == 1000000L - math.round(1.96 * 1414213L))
    assert(t.getLong(4) == 1000000L + math.round(1.96 * 1414213L))
    assert(t.getLong(5) == 0L && t.getLong(6) == 0L)
    // negative bias truncates toward zero in BOTH engines (sign-split)
    val neg = Seq((5L, 7L), (5L, 8L)).toDF("x", "y")
    assert(graft.api.TrainingData.blandAltman(neg, "x", "y")
      .collect().head.getLong(1) == -2500000L)
  }

  test("newcombeDiff: bounds bracket the difference, arms read correctly") {
    val rows = (Seq.fill(8)((true, true)) ++ Seq.fill(2)((true, false)) ++
      Seq.fill(5)((false, true)) ++ Seq.fill(5)((false, false)))
      .toDF("arm", "y")
    val r = graft.api.TrainingData.newcombeDiff(rows, "arm", "y")
      .collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 8L)
    assert(r.getLong(2) == 10L && r.getLong(3) == 5L)
    assert(r.getLong(4) == 800000L && r.getLong(5) == 500000L)
    assert(r.getLong(6) == 300000L)
    assert(r.getLong(7) < r.getLong(6) && r.getLong(6) < r.getLong(8))
    // Wilson-backed: the interval stays inside [−1, 1] micros
    assert(r.getLong(7) >= -1000000L && r.getLong(8) <= 1000000L)
  }

  test("chaoShenEntropy: replayed chain on a singleton mix, closed-vocab HT weight, all-singletons NULL") {
    val docs = Seq("a a b").toDF("text")
    val r = graft.api.TrainingData.chaoShenEntropy(docs, "text")
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L && r.getLong(2) == 1L)
    assert(r.getLong(3) == 666666L)
    // replay both chains in the same IEEE op order
    def mlTerm(c: Long): Long = math.round(1e6 *
      (c.toDouble / 3.0) * math.log(c.toDouble / 3.0))
    def csTerm(c: Long): Long = {
      val cp = (1.0 - 1.0 / 3.0) * (c.toDouble / 3.0)
      math.round(1e6 * cp * math.log(cp) /
        (1.0 - math.pow(1.0 - cp, 3.0)))
    }
    assert(r.getLong(4) == -(mlTerm(2) + mlTerm(1)))
    assert(r.getLong(5) == -(csTerm(2) + csTerm(1)))
    // corrected entropy exceeds MLE when unseen mass exists
    assert(r.getLong(5) > r.getLong(4))
    // closed vocabulary (no singletons): Ĉ = 1, but the finite-n
    // Horvitz–Thompson weight still inflates the estimate — it only
    // converges to MLE as (1−p)ⁿ → 0 (the sf0.01 unigram fixture,
    // where the two agree to the micro)
    val closed = Seq("x x y y").toDF("text")
    val c = graft.api.TrainingData.chaoShenEntropy(closed, "text")
      .collect().head
    def csTerm4(c0: Long): Long = {
      val cp = (1.0 - 0.0 / 4.0) * (c0.toDouble / 4.0)
      math.round(1e6 * cp * math.log(cp) /
        (1.0 - math.pow(1.0 - cp, 4.0)))
    }
    assert(c.getLong(2) == 0L)
    assert(c.getLong(5) == -(csTerm4(2) + csTerm4(2)))
    assert(c.getLong(5) >= c.getLong(4))
    // every type a singleton: coverage unestimable → NULL, MLE stands
    val all1 = Seq("p q r").toDF("text")
    val a = graft.api.TrainingData.chaoShenEntropy(all1, "text")
      .collect().head
    assert(a.isNullAt(5) && a.getLong(4) > 0L)
  }

  test("jackknifeRatio: exact leave-out replicates, influence signs, hand-walked SE") {
    // sources: a = 2/2 en, b = 0/2 en; full rate 1/2
    val rows = (Seq.fill(2)(("a", true)) ++ Seq.fill(2)(("b", false)))
      .toDF("g", "y")
    val got = graft.api.TrainingData.jackknifeRatio(rows, "g", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("a").getLong(3) == 500000L) // θ_full
    assert(got("a").getLong(4) == 0L)      // drop a → 0/2
    assert(got("b").getLong(4) == 1000000L) // drop b → 2/2
    assert(got("a").getLong(5) == 500000L)  // a props the rate UP
    assert(got("b").getLong(5) == -500000L) // b drags it DOWN
    // SE: G=2, θ = {0, 1e6}: (1/2)·(2·1e12·... ) → √((1·(2·1e12−1e12))/4)
    val expect = math.floor(math.sqrt(
      (1.0 * (2.0 * 1e12 - 1e12)) / 4.0)).toLong
    assert(got("a").getLong(6) == expect)
    // single source: replicate undefined, SE undefined
    val one = Seq(("a", true), ("a", false)).toDF("g", "y")
    val o = graft.api.TrainingData.jackknifeRatio(one, "g", "y")
      .collect().head
    assert(o.isNullAt(4) && o.isNullAt(6))
  }

  test("tostEquivalence: identical arms equivalent, separated arms not") {
    val same = (Seq.fill(50)((true, true)) ++ Seq.fill(50)((true, false)) ++
      Seq.fill(50)((false, true)) ++ Seq.fill(50)((false, false)))
      .toDF("arm", "y")
    val s = graft.api.TrainingData
      .tostEquivalence(same, "arm", "y", marginMicros = 200000L)
      .collect().head
    assert(s.getLong(6) == 0L)             // diff 0
    assert(s.getBoolean(10))               // equivalent at ±20pp
    // complete separation cannot be equivalent at a 20pp margin
    val sep = (Seq.fill(100)((true, true)) ++ Seq.fill(100)((false, false)))
      .toDF("arm", "y")
    val p = graft.api.TrainingData
      .tostEquivalence(sep, "arm", "y", marginMicros = 200000L)
      .collect().head
    // degenerate rates (p=1 vs p=0) → SE 0 → honest NULL, not a verdict
    assert(p.isNullAt(8) && p.isNullAt(10))
    val near = (Seq.fill(99)((true, true)) ++ Seq.fill(1)((true, false)) ++
      Seq.fill(1)((false, true)) ++ Seq.fill(99)((false, false)))
      .toDF("arm", "y")
    val q = graft.api.TrainingData
      .tostEquivalence(near, "arm", "y", marginMicros = 200000L)
      .collect().head
    assert(!q.getBoolean(10))              // 98pp apart: not equivalent
  }

  test("jonckheereTerpstra: clean increasing trend hand-walked, reversal symmetric, one group NULL") {
    val up = Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L), (3L, 5L),
      (3L, 6L)).toDF("g", "v")
    val r = graft.api.TrainingData.jonckheereTerpstra(up, "g", "v")
      .collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 24L && r.getLong(3) == 12L) // 2U, E[2U]
    // no ties anywhere: Var = (6·5·17 − 3·2·1·9)/72 = 456/72
    assert(r.getLong(4) == 1000000L * 456 / 72)
    val expectZ = (BigInt(10).pow(12) * 144 / (4 * (1000000L * 456 / 72)))
      .toLong
    assert(r.getLong(5) == expectZ)
    // two-sided: the reversed trend scores the same z²
    val down = Seq((3L, 1L), (3L, 2L), (2L, 3L), (2L, 4L), (1L, 5L),
      (1L, 6L)).toDF("g", "v")
    val d = graft.api.TrainingData.jonckheereTerpstra(down, "g", "v")
      .collect().head
    assert(d.getLong(2) == 0L && d.getLong(5) == expectZ)
    // a single group has no ordered pairs to trend over
    val one = Seq((1L, 5L), (1L, 7L)).toDF("g", "v")
    assert(graft.api.TrainingData.jonckheereTerpstra(one, "g", "v")
      .collect().head.isNullAt(5))
  }

  test("monroeLogOdds: distinctive terms surface with opposite signs") {
    val docs = (Seq.fill(6)((true, "alpha alpha shared")) ++
      Seq.fill(6)((false, "beta beta shared"))).toDF("fa", "text")
    val got = graft.api.TrainingData
      .monroeLogOdds(docs, "fa", "text", alpha0 = 10.0, topK = 3)
      .collect()
    assert(got.length == 3)
    val byTerm = got.map(r => r.getString(0) -> r).toMap
    assert(byTerm("alpha").getLong(3) > 0L) // over-represented in A
    assert(byTerm("beta").getLong(3) < 0L)
    assert(math.abs(byTerm("shared").getLong(4)) <
      math.abs(byTerm("alpha").getLong(4))) // shared term least extreme
    // top-1 is one of the two distinctive terms, not the shared one
    assert(got.head.getString(0) != "shared")
  }

  test("cohensH: complete separation gives ±π, balanced rest zero") {
    val rows = (Seq.fill(4)(("a", true)) ++ Seq.fill(4)(("b", false)))
      .toDF("g", "y")
    val got = graft.api.TrainingData.cohensH(rows, "g", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    val pi = math.round(1e6 *
      (2.0 * math.asin(math.sqrt(1.0)) - 2.0 * math.asin(math.sqrt(0.0))))
    assert(got("a").getLong(5) == pi)
    assert(got("b").getLong(5) == -pi)
    // identical rates → h = 0
    val same = (Seq.fill(2)(("a", true)) ++ Seq.fill(2)(("a", false)) ++
      Seq.fill(2)(("b", true)) ++ Seq.fill(2)(("b", false)))
      .toDF("g", "y")
    assert(graft.api.TrainingData.cohensH(same, "g", "y")
      .collect().forall(_.getLong(5) == 0L))
  }

  test("pageTrend: perfect order z²=6 exactly, flat zero") {
    val up = Seq((1L, 2L, 3L), (10L, 20L, 30L), (4L, 5L, 6L))
      .toDF("c0", "c1", "c2")
    val r = graft.api.TrainingData.pageTrend(up, Seq("c0", "c1", "c2"))
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 84L && r.getLong(4) == 72L) // 2L, E[2L]
    assert(r.getLong(5) == 6000000L) // 36·144/(3·288) = 6 exactly
    val flat = Seq((5L, 5L, 5L), (9L, 9L, 9L)).toDF("c0", "c1", "c2")
    val f = graft.api.TrainingData.pageTrend(flat, Seq("c0", "c1", "c2"))
      .collect().head
    assert(f.getLong(3) == f.getLong(4) && f.getLong(5) == 0L)
    assert(f.getLong(2) == 2L * 24L) // fully-tied blocks are visible
  }

  test("requiredSampleSize: p=0.5 at 10% lift replays the written-out chain, degenerates NULL") {
    val rows = (Seq.fill(5)(("s", true)) ++ Seq.fill(5)(("s", false)) ++
      Seq.fill(3)(("z", false))).toDF("g", "y")
    val got = graft.api.TrainingData
      .requiredSampleSize(rows, "g", "y", liftPerMille = 100)
      .collect().map(r => r.getString(0) -> r).toMap
    val s = got("s")
    assert(s.getLong(3) == 500000L && s.getLong(4) == 550000L)
    // replay the written-out IEEE chain in the SAME operation order
    val p1m = 500000.0; val p2m = 550000.0
    val pb = (p1m + p2m) / 2000000.0
    val z = 1.959963984540054 * math.sqrt(2.0 * pb * (1.0 - pb)) +
      0.8416212335729143 *
        math.sqrt(p1m / 1000000.0 * (1.0 - p1m / 1000000.0) +
          p2m / 1000000.0 * (1.0 - p2m / 1000000.0))
    val expect = math.ceil(
      z * z / ((p2m - p1m) / 1000000.0 * (p2m - p1m) / 1000000.0)).toLong
    assert(s.getLong(5) == expect)
    assert(got("z").isNullAt(5)) // zero base rate → no detectable lift
  }
}
