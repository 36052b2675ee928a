package graft.functions

import graft.SparkSpec
import graft.Tables
import graft.ops.DedupOps
import org.apache.spark.sql.functions._

class TextExprSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  // tokenizer edge cases: runs of spaces, leading and trailing spaces, a
  // tab (not a separator), uppercase non-ASCII (dotted İ, final sigma)
  private val edgeTexts = Seq(
    "runs   of    spaces  between   the words",
    "   leading and trailing spaces here   ",
    "a\ttab is\tnot a separator at all",
    "İSTANBUL ΣΑΣ ΟΔΟΣ ΣΑΣ İSTANBUL ΣΑΣ")

  /** The fixture documents plus [[edgeTexts]] under negative doc ids. */
  private def docsWithEdges = {
    import spark.implicits._
    Tables.t(spark, d, "documents").select(col("doc_id"), col("text"))
      .union(edgeTexts.zipWithIndex.map { case (t, i) => (-1L - i, t) }
        .toDF("doc_id", "text"))
  }

  test("native ShingleHashes equals xxhash64 over the composed shingle pipeline") {
    val docs = docsWithEdges
    val composed = docs.select(col("doc_id"),
      explode(DedupOps.shingles(DedupOps.tokens(col("text")))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shh"))
    val native = docs.select(col("doc_id"),
      explode(TextFunctions.shingle_hashes(col("text"), 3)).as("shh"))
    assert(native.count() == composed.count())
    assert(native.except(composed).count() == 0)
    assert(composed.except(native).count() == 0)
  }

  test("native TokenBigrams equals the composed zip_with adjacency pipeline") {
    val docs = docsWithEdges
    val tk = DedupOps.tokens(col("text"))
    val adjacent = filter(
      zip_with(tk, slice(tk, lit(2), size(tk)),
        (x, y) => struct(x.as("a"), y.as("b"))),
      p => p.getField("b").isNotNull)
    val composed = docs.select(col("doc_id"),
      explode(transform(adjacent,
        p => concat_ws(" ", p.getField("a"), p.getField("b")))).as("bigram"))
    val native = docs.select(col("doc_id"),
      explode(TextFunctions.token_bigrams(col("text"))).as("bigram"))
    // multiplicity matters for counts: compare as (doc, bigram, count)
    val c = composed.groupBy("doc_id", "bigram").count()
    val n = native.groupBy("doc_id", "bigram").count()
    assert(native.count() == composed.count() && native.count() > 0)
    assert(n.except(c).count() == 0 && c.except(n).count() == 0)
  }

  test("TokenBigrams edge cases: empty, single-token, repeated-pair texts") {
    import spark.implicits._
    val out = Seq("", "alone", "a b a b", "  x   y  ")
      .toDF("text")
      .select(TextFunctions.token_bigrams(col("text")).as("bg"))
      .as[Seq[String]].collect().toSeq
    assert(out == Seq(Seq(), Seq(), Seq("a b", "b a", "a b"), Seq("x y")))
  }

  test("native Sha32MinHashSigs equals the composed sha32 signature pipeline") {
    val docs = docsWithEdges
    // the composed form persistShaSignatures used through round 6 — the
    // oracle-green reference the single-pass expression must bit-match
    val sha32 = conv(substring(sha2(col("sh"), 256), 1, 8), 16, 10).cast("long")
    val base = pmod(col("shh"), lit(1L << 31))
    val composed = docs.select(col("doc_id"),
        explode(DedupOps.shingles(DedupOps.tokens(col("text")))).as("sh"))
      .select(col("doc_id"), sha32.as("shh"))
      .select(col("doc_id") +: (0 until 16).map(i =>
        pmod(lit(MinHashParams.aCoef(i)) * base + lit(MinHashParams.bCoef(i)),
          lit(MinHashParams.P)).as(s"h_$i")): _*)
      .groupBy(col("doc_id"))
      .agg(min(col("h_0")).as("sig_0"),
        (1 until 16).map(i => min(col(s"h_$i")).as(s"sig_$i")): _*)
    val native = docs.select(col("doc_id"),
        TextFunctions.sha32_minhash_sigs(col("text"), 3, 16).as("sigs"))
      .filter(size(col("sigs")) > 0)
      .select(col("doc_id") +:
        (0 until 16).map(i => col("sigs").getItem(i).as(s"sig_$i")): _*)
    assert(native.count() == composed.count() && native.count() > 0)
    assert(native.except(composed).count() == 0)
    assert(composed.except(native).count() == 0)
  }

  test("Sha32MinHashSigs edge cases: short, empty, and duplicate-shingle texts") {
    import spark.implicits._
    val out = Seq("one two", "", "a b c", "a b c a b c a b c")
      .toDF("text")
      .select(TextFunctions.sha32_minhash_sigs(col("text"), 3, 16).as("sigs"))
      .as[Seq[Long]].collect().toSeq
    assert(out(0).isEmpty && out(1).isEmpty)
    assert(out(2).length == 16)
    // duplicates fold into the same minimum: "a b c" repeated adds
    // shingles {"a b c","b c a","c a b"} but min over a superset that
    // includes out(2)'s only shingle stays ≤ — and every slot is a real
    // hash, not the Long.MaxValue sentinel
    assert(out(3).length == 16)
    assert(out(2).zip(out(3)).forall { case (one, rep) => rep <= one })
    assert(out.forall(_.forall(v => v >= 0 && v < MinHashParams.P)))
  }

  test("short and empty texts yield no shingles; null text yields null-safe empty") {
    import spark.implicits._
    val df = Seq("one two", "", "a b c", "  spaced   out   here  ")
      .toDF("text")
      .select(size(TextFunctions.shingle_hashes(col("text"), 3)).as("n"))
    assert(df.as[Int].collect().toSeq == Seq(0, 0, 1, 1))
  }

  test("Sha32KgramHashes ≡ composed tokens→slice→join→sha32 chain, positions aligned") {
    import spark.implicits._
    import graft.ops.DedupOps
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c", "one two", "", "  spaced   OUT   here  and  more  ",
      "Mixed CASE Tokens repeat repeat repeat repeat",
      "unicode ü tokens é here ß again ü tokens é here") ++ edgeTexts
    val df = texts.toDF("text")
    val k = 3
    val composed = df
      .select(DedupOps.tokens(col("text")).as("tk"))
      .select(when(size(col("tk")) >= k,
        transform(sequence(lit(1), size(col("tk")) - (k - 1)),
          i => DedupOps.sha32(array_join(slice(col("tk"), i, lit(k)), " "))))
        .otherwise(array().cast("array<long>")).as("kh"))
      .as[Seq[Long]].collect().toSeq
    val native = df
      .select(TextFunctions.sha32_kgrams(col("text"), k).as("kh"))
      .as[Seq[Long]].collect().toSeq
    assert(native == composed)
    assert(native.head.nonEmpty) // the real path actually hashes
  }

  test("WinnowSelect ≡ composed rightmost-min fold on adversarial + random arrays") {
    import spark.implicits._
    // adversarial: all-equal (ties every window), strictly rising,
    // strictly falling, sawtooth, shorter than the window, length 1
    val fixed: Seq[Seq[Long]] = Seq(
      Seq(5L, 5L, 5L, 5L, 5L, 5L), Seq(1L, 2L, 3L, 4L, 5L, 6L),
      Seq(6L, 5L, 4L, 3L, 2L, 1L), Seq(1L, 9L, 1L, 9L, 1L, 9L),
      Seq(3L, 1L), Seq(7L))
    // deterministic pseudo-random arrays with heavy tie mass (mod 4)
    val rnd = (1 to 200).map { s =>
      val len = s % 23 + 1
      (0 until len).map(i => ((s * 2654435761L + i * 40503L) % 4).abs).toSeq
    }
    for (w <- Seq(1, 2, 4, 7)) {
      val df = (fixed ++ rnd).toDF("kh")
      val both = df.select(
        TextFunctions.winnow_select(col("kh"), w).as("native"),
        graft.api.TrainingData.winnowSelectComposed(col("kh"), w)
          .as("composed"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Int](0) == r.getSeq[Int](1),
          s"w=$w native=${r.getSeq[Int](0)} composed=${r.getSeq[Int](1)}")
      }
    }
    // the density guarantee the scheme is chosen for: ~2n/(w+1) picks
    val dense = (0 until 1000)
      .map(i => ((i * 2654435761L) % 100000).abs).toSeq
    val picks = Seq(dense).toDF("kh")
      .select(TextFunctions.winnow_select(col("kh"), 4).as("p"))
      .collect().head.getSeq[Int](0)
    assert(picks.length <= 2 * dense.length / 5 + 8)
    assert(picks == picks.sorted && picks.distinct.length == picks.length)
  }

  test("DamerauLevenshtein: literature cases incl. the true-DL discriminator") {
    import spark.implicits._
    val cases = Seq(
      // THE case separating true DL from OSA: OSA("ca","abc") = 3
      ("ca", "abc", 2),
      ("ab", "ba", 1),        // one transposition
      ("teh", "the", 1),      // the typo motivation (levenshtein = 2)
      ("", "", 0), ("", "abc", 3), ("abc", "", 3),
      ("abc", "abc", 0),
      ("kitten", "sitting", 3),       // pure levenshtein agreement
      ("a cat", "an act", 2),         // insert + transposition
      ("abcdef", "abcfad", 3),
      ("xy", "yxz", 2), ("banana", "banaan", 1))
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(col("a"), col("b"),
        TextFunctions.damerau_levenshtein(col("a"), col("b")).as("dl"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    cases.zip(got).foreach { case ((a, b, want), (_, _, d)) =>
      assert(d == want, s"dl($a, $b) = $d, want $want")
    }
    // symmetry over the same set
    val sym = cases.map { case (a, b, _) => (b, a) }.toDF("a", "b")
      .select(TextFunctions.damerau_levenshtein(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(sym == cases.map(_._3))
  }

  test("DamerauLevenshtein: exhaustive BFS cross-check over {a,b}^<=4") {
    // independent model: true DL = shortest path in the edit graph whose
    // moves are insert/delete/substitute (alphabet {a,b}) and ADJACENT
    // transposition — BFS from s1 until s2 (true DL never exceeds
    // max(|a|,|b|), so the frontier is bounded)
    def bfs(s1: String, s2: String): Int = {
      if (s1 == s2) return 0
      val alpha = "ab"
      var frontier = Set(s1)
      var seen = Set(s1)
      var d = 0
      while (d < 10) {
        d += 1
        val next = scala.collection.mutable.Set[String]()
        for (s <- frontier) {
          val n = s.length
          for (i <- 0 to n; c <- alpha)
            next += s.substring(0, i) + c + s.substring(i)      // insert
          for (i <- 0 until n)
            next += s.substring(0, i) + s.substring(i + 1)      // delete
          for (i <- 0 until n; c <- alpha)
            next += s.substring(0, i) + c + s.substring(i + 1)  // subst
          for (i <- 0 until n - 1)                              // transpose
            next += s.substring(0, i) + s.charAt(i + 1) + s.charAt(i) +
              s.substring(i + 2)
        }
        if (next.contains(s2)) return d
        frontier = next.toSet -- seen
        seen = seen ++ frontier
      }
      fail(s"bfs($s1, $s2) did not converge")
    }
    val strs = (0 to 4).flatMap(n =>
      (0 until math.pow(2, n).toInt).map(m =>
        (0 until n).map(i => if (((m >> i) & 1) == 0) 'a' else 'b')
          .mkString))
    val expr = DamerauLevenshtein(
      org.apache.spark.sql.catalyst.expressions.Literal.create(null,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.catalyst.expressions.Literal.create(null,
        org.apache.spark.sql.types.StringType))
    import org.apache.spark.unsafe.types.UTF8String
    for (a <- strs; b <- strs) {
      val fast = expr.compute(UTF8String.fromString(a),
        UTF8String.fromString(b))
      val slow = bfs(a, b)
      assert(fast == slow, s"dl($a, $b): matrix $fast vs bfs $slow")
    }
  }

  test("DamerauLevenshtein: codegen path equals interpreted, null, guard") {
    import spark.implicits._
    val df = Seq(("abcd", "acbd"), ("abcd", null), (null, "x"))
      .toDF("a", "b")
    val rows = df.select(
      TextFunctions.damerau_levenshtein(col("a"), col("b")).as("dl"))
      .collect()
    assert(rows(0).getInt(0) == 1)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
    // interpreted (direct eval) equals the df (codegen) value
    val direct = DamerauLevenshtein(
      org.apache.spark.sql.catalyst.expressions.Literal("abcd"),
      org.apache.spark.sql.catalyst.expressions.Literal("acbd"))
      .eval(null)
    assert(direct == 1)
    // the O(n·m) guard: document-scale input is refused by name
    val big = "x" * 4097
    val e = intercept[Exception] {
      Seq((big, "y")).toDF("a", "b")
        .select(TextFunctions.damerau_levenshtein(col("a"), col("b")))
        .collect()
    }
    assert(e.getMessage.contains("4096") ||
      Option(e.getCause).exists(_.getMessage.contains("4096")))
  }

  test("JaroWinkler: literature cases, DuckDB conventions, codegen = interpreted") {
    import spark.implicits._
    def jwMicros(a: String, b: String): Long = {
      val v = JaroWinkler(
        org.apache.spark.sql.catalyst.expressions.Literal(a),
        org.apache.spark.sql.catalyst.expressions.Literal(b))
        .eval(null).asInstanceOf[Double]
      math.round(v * 1e6)
    }
    // Winkler's own canonical example: jaro = 17/18, prefix 3 →
    // 0.944444… + 0.3·(1 − 17/18) = 0.9611111…
    assert(jwMicros("martha", "marhta") == 961111L)
    // Winkler's second canonical pair: jaro = 0.76667, prefix 2 →
    // 0.76667 + 0.2·0.1·0.23333 = 0.813333
    assert(jwMicros("dixon", "dicksonx") == 813333L)
    assert(jwMicros("abc", "xyz") == 0L)             // no matches
    assert(jwMicros("same", "same") == 1000000L)
    // DuckDB conventions the oracle depends on: both-empty → 0 (NOT
    // the common 1.0), one-empty → 0
    assert(jwMicros("", "") == 0L)
    assert(jwMicros("", "abc") == 0L)
    // codegen (DataFrame) path equals interpreted, nulls null-safe
    val rows = Seq(("martha", "marhta"), ("x", null))
      .toDF("a", "b")
      .select(TextFunctions.jaro_winkler(col("a"), col("b")).as("jw"))
      .collect()
    assert(math.round(rows(0).getDouble(0) * 1e6) == 961111L)
    assert(rows(1).isNullAt(0))
    // the O(n·window) guard refuses document-scale input by name
    val e = intercept[Exception] {
      Seq(("x" * 4097, "y")).toDF("a", "b")
        .select(TextFunctions.jaro_winkler(col("a"), col("b")))
        .collect()
    }
    assert(e.getMessage.contains("4096") ||
      Option(e.getCause).exists(_.getMessage.contains("4096")))
  }
}
