package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

// Text kernels. Each expression here is evaluated by one kernel, its
// `compute` method ([[Kernel]]): eval calls it and the generated code is
// one call to it. The shingle, bigram and sha32 kernels take their
// tokens, n-token grams and sha32 values from [[Tokens]], so the four
// cannot tokenize or hash differently.

/** The pieces the shingle, bigram and sha32 kernels share, each the
  * one-pass form of a composed column pipeline. */
private object Tokens {

  /** `filter(split(lower(text), " "), _ != "")`: lowercase via UTF8String
    * (the same collation-free lowering as `lower`), split on a single
    * space (a tab is not a separator), empties dropped. */
  def of(v: UTF8String): Array[String] = {
    val parts = v.toLowerCase.toString.split(' ')
    var n = 0
    var i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) { parts(n) = parts(i); n += 1 }
      i += 1
    }
    if (n == parts.length) parts else java.util.Arrays.copyOf(parts, n)
  }

  /** Every `n`-token gram of `v` in position order, its tokens joined by
    * one space (`array_join(slice(tk, i, n), " ")`); empty when `v` has
    * fewer than `n` tokens. */
  def grams(v: UTF8String, n: Int): Array[String] = {
    val toks = of(v)
    val m = toks.length - n + 1
    if (m <= 0) return Array.empty[String]
    val out = new Array[String](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      sb.setLength(0)
      sb.append(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  // one digest per task thread, not per row: getInstance is a provider
  // lookup and an allocation, measurable across a 100 TB scan
  private val sha256 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))

  /** The portable 32-bit hash of `s`: the first 4 bytes of its SHA-256,
    * big-endian unsigned — what `conv(substring(sha2(s, 256), 1, 8), 16,
    * 10)` computes (the first 8 hex chars), and DuckDB replays with
    * ascii() arithmetic. */
  def sha32(s: String): Long = {
    val d = sha256.get().digest(s.getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

/** Native n-gram shingle hasher (SURVEY.md §2B X26 hot path).
  *
  * Semantics are exactly the composed pipeline
  * `array_distinct(transform(...array_join(slice(filter(split(lower(text)," "),...)...)))`
  * followed by `xxhash64(shingle)`: the [[Tokens]] grams, hashed with
  * Spark's XXH64 at the default seed 42, distinct. One pass, no
  * intermediate arrays or interpreted lambdas — the composed form
  * evaluated 7 higher-order functions per row and dominated the dedup
  * benchmarks.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryKernel {

  require(n >= 1, "shingle size must be >= 1")
  def sqlName: String = "shingle_hashes"
  protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(v: UTF8String): GenericArrayData = {
    val grams = Tokens.grams(v, n)
    val seen = new java.util.LinkedHashSet[java.lang.Long](grams.length)
    var i = 0
    while (i < grams.length) {
      val u = UTF8String.fromString(grams(i))
      seen.add(XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native adjacent-token bigram extractor (X28 n-gram-count hot path).
  *
  * Semantics are exactly the composed pipeline over
  * `filter(split(lower(text), " "), _ != "")`: each adjacent token pair
  * joined by one space, WITH multiplicity (counts need duplicates, unlike
  * [[ShingleHashes]]'s distinct set). One pass, no interpreted
  * zip_with/filter/transform lambdas — bit-equality with the composed
  * form is asserted in TextExprSpec. */
case class TokenBigrams(child: Expression) extends UnaryKernel {

  def sqlName: String = "token_bigrams"
  protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(v: UTF8String): GenericArrayData =
    new GenericArrayData(Tokens.grams(v, 2).map[Any](UTF8String.fromString))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The fixed MinHash permutation family h_i(x) = (a_i·x + b_i) mod P over
  * a 31-bit base hash — shared by the column-algebra signature build
  * (DedupOps.signatures), its DuckDB oracle SQL, and the single-pass
  * native form [[Sha32MinHashSigs]], so the three cannot drift apart. */
object MinHashParams {
  val P = 2147483647L // 2^31 − 1
  def aCoef(i: Int): Long = (1000003L * (i + 1) + 12345L) % (1L << 30)
  def bCoef(i: Int): Long = (2654435761L * (i + 1) + 97L) % P
}

/** Native single-pass sha32 MinHash signature (X26 fixture hot path):
  * per document, the k-permutation MinHash signature over the distinct
  * `n`-token shingles, with the PORTABLE base hash [[Tokens.sha32]].
  *
  * Bit-identical to the composed pipeline
  * `signatures(shingleRows.select(doc_id, sha32(sh)))` (asserted in
  * TextExprSpec) but with no 260k-row explode, no per-shingle string
  * allocation churn through 7 higher-order functions, and — decisively —
  * no groupBy(doc_id) shuffle: the per-doc minimum folds inside the scan
  * stage, so the whole signature build is one narrow pass. Documents
  * with fewer than `n` tokens return an EMPTY array (they have no
  * shingles; the caller filters them out, matching the composed form
  * where such docs simply have no rows). */
case class Sha32MinHashSigs(child: Expression, n: Int, k: Int)
    extends UnaryKernel {

  require(n >= 1, "shingle size must be >= 1")
  require(k >= 1, "signature size must be >= 1")
  def sqlName: String = "sha32_minhash_sigs"
  protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val as: Array[Long] =
    Array.tabulate(k)(MinHashParams.aCoef)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(k)(MinHashParams.bCoef)

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(v: UTF8String): GenericArrayData = {
    val grams = Tokens.grams(v, n)
    if (grams.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val P = MinHashParams.P
    val sigs = new Array[Long](k)
    java.util.Arrays.fill(sigs, Long.MaxValue)
    // distinct-ness: duplicate shingles produce identical h_i values, so
    // folding every occurrence into the min EQUALS folding the distinct
    // set — no dedup structure needed
    var i = 0
    while (i < grams.length) {
      val base = Tokens.sha32(grams(i)) & 0x7fffffffL // pmod(shh, 2^31)
      var j = 0
      while (j < k) {
        val h = (as(j) * base + bs(j)) % P
        if (h < sigs(j)) sigs(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sigs)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native per-POSITION k-gram sha32 hasher (X67/X68 hot path).
  *
  * Semantics are exactly the composed
  * `transform(sequence(1, size(tk) − k + 1), i ->
  * sha32(array_join(slice(tk, i, k), " ")))` over
  * `filter(split(lower(text), " "), _ != "")` — every position's
  * k-token gram hashed to the portable [[Tokens.sha32]] value, WITH
  * multiplicity and in position order (array index = 1-based k-gram
  * position — [[ShingleHashes]] is the DISTINCT/xxhash64 sibling for
  * Jaccard, this keeps what winnowing windows and span offsets need).
  * Fewer than k tokens → empty array. One pass; the composed form
  * re-tokenized and re-joined through five interpreted higher-order
  * functions per position. */
case class Sha32KgramHashes(child: Expression, k: Int) extends UnaryKernel {

  require(k >= 1, "k-gram size must be >= 1")
  def sqlName: String = "sha32_kgrams"
  protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(v: UTF8String): GenericArrayData =
    new GenericArrayData(Tokens.grams(v, k).map(Tokens.sha32))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native winnowing selection (SURVEY.md §2B X67 hot path).
  *
  * Semantics are exactly the composed
  * `array_distinct(transform(sequence(1, nwin), j -> rightmost-min fold
  * over slice(kh, j, window)))` lambda pipeline
  * (`TrainingData.winnowSelectComposed`): 1-based positions of each
  * sliding window's minimum hash, ties → RIGHTMOST (the
  * Schleimer/Wilkerson/Aiken MOSS rule), consecutive duplicates
  * collapsed; fewer than `window` k-grams → one whole-array window. The
  * composed form interprets an O(n·w) nested fold per document; this is
  * the O(n) monotonic-deque sliding minimum — pop-while
  * `v[back] >= v[new]` keeps the deque strictly increasing and leaves
  * the RIGHTMOST of any tied minimum at the front, so the emitted
  * positions are bit-identical to the fold's. Empty arrays yield empty
  * (the callers filter size ≥ k upstream). */
case class WinnowSelect(child: Expression, window: Int) extends UnaryKernel {

  require(window >= 1, "window must be >= 1")
  def sqlName: String = "winnow_select"
  protected def argTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  def compute(v: ArrayData): GenericArrayData = {
    val n = v.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyIntArray)
    val w = if (n >= window) window else n
    val out = new Array[Int](n - w + 1)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    var cnt = 0
    var i = 0
    while (i < n) {
      val x = v.getLong(i)
      while (tail > head && v.getLong(dq(tail - 1)) >= x) tail -= 1
      dq(tail) = i
      tail += 1
      if (i >= w - 1) {
        while (dq(head) <= i - w) head += 1
        val pick = dq(head) + 1 // 1-based position
        if (cnt == 0 || out(cnt - 1) != pick) { out(cnt) = pick; cnt += 1 }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, cnt))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native TRUE Damerau–Levenshtein distance (SURVEY.md §2B X150):
  * minimum edits under insert/delete/substitute PLUS transposition of
  * two (not necessarily adjacent-in-the-edit-sequence) characters —
  * the Lowrance–Wagner algorithm with a last-occurrence alphabet map,
  * NOT the restricted optimal-string-alignment shortcut (OSA gives
  * dl("ca","abc") = 3; true DL gives 2, matching DuckDB's
  * `damerau_levenshtein`, which the oracle holds this to exactly).
  * Spark ships `levenshtein` but nothing transposition-aware, and typo
  * / OCR near-dups are transposition-DOMINATED: "teh"→"the" is 1 edit
  * here, 2 under plain Levenshtein — a blocked typo-dedup thresholding
  * at 1 sees them only with this metric.
  *
  * Operates on UTF-16 code units (= code points for ASCII/BMP text —
  * pass normalized names/titles/lines). Inputs are guarded at 4096
  * chars: the matrix is O(|a|·|b|) and a document-pair calls for
  * shingle dedup, not edit distance. */
case class DamerauLevenshtein(left: Expression, right: Expression) extends BinaryKernel {

  def sqlName: String = "damerau_levenshtein"
  protected def argTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  def compute(lu: UTF8String, ru: UTF8String): Int = {
    val a = lu.toString
    val b = ru.toString
    val la = a.length
    val lb = b.length
    require(la <= 4096 && lb <= 4096,
      s"damerau_levenshtein: input exceeds 4096 chars ($la, $lb) — edit " +
        "distance is O(n*m); use shingle dedup for document-scale text")
    if (la == 0) return lb
    if (lb == 0) return la
    // Lowrance–Wagner: d is (la+2)×(lb+2) with a −∞-row/col sentinel
    // at index 0 holding maxdist, and da = last row where each char of
    // `a` occurred (the arbitrary-reach transposition source)
    val maxdist = la + lb
    val w = lb + 2
    val d = new Array[Int]((la + 2) * w)
    d(0) = maxdist
    var i = 0
    while (i <= la) {
      d((i + 1) * w) = maxdist
      d((i + 1) * w + 1) = i
      i += 1
    }
    var j = 0
    while (j <= lb) {
      d(j + 1) = maxdist
      d(w + j + 1) = j
      j += 1
    }
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k: Int = { val v = da.get(b.charAt(j - 1)); if (v == null) 0 else v }
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        val sub = d(i * w + j) + cost
        val ins = d((i + 1) * w + j) + 1
        val del = d(i * w + j + 1) + 1
        val trans = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        var m = sub
        if (ins < m) m = ins
        if (del < m) m = del
        if (trans < m) m = trans
        d((i + 1) * w + j + 1) = m
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    d((la + 1) * w + lb + 1)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Native Jaro–Winkler similarity (SURVEY.md §2B X174) — the
  * name/title matcher next to [[DamerauLevenshtein]]'s typo metric:
  * order-tolerant within a match window, prefix-weighted (p = 0.1
  * over ≤ 4 common leading chars, applied only above the 0.7 boost
  * threshold), in [0, 1]. Edit distance punishes "jonathon
  * smith"/"smith jonathon" hard; JW's windowed matching does not —
  * record linkage standardized on it for exactly that.
  *
  * Implements the SAME variant as DuckDB's `jaro_winkler_similarity`
  * — verified bit-for-bit on 5 000 random string pairs (every double
  * identical), including the both-empty → 0 convention — so the
  * oracle can hold this expression to the OTHER engine's builtin
  * value-exactly (the x150/ORACLES §5i-2 discipline) after one shared
  * ·10⁶ rounding. The operation ORDER below is therefore load-bearing:
  * (m/la + m/lb + (m−t)/m)/3, then j + ℓ·0.1·(1−j).
  *
  * UTF-16 code units (= code points on BMP text); 4096-char guard —
  * the match scan is O(|a|·window). */
case class JaroWinkler(left: Expression, right: Expression) extends BinaryKernel {

  def sqlName: String = "jaro_winkler"
  protected def argTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  def compute(lu: UTF8String, ru: UTF8String): Double = {
    val a = lu.toString
    val b = ru.toString
    val la = a.length
    val lb = b.length
    require(la <= 4096 && lb <= 4096,
      s"jaro_winkler: input exceeds 4096 chars ($la, $lb) — use shingle " +
        "dedup for document-scale text")
    // both-empty → 0 (the DuckDB convention, NOT the common 1.0)
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0
    var t = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    // the load-bearing IEEE sequence (bit-identical to DuckDB)
    var j = (m.toDouble / la + m.toDouble / lb +
      (m - t).toDouble / m) / 3.0
    if (j > 0.7) {
      var l = 0
      val maxL = math.min(4, math.min(la, lb))
      while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
      j = j + l * 0.1 * (1.0 - j)
    }
    j
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object TextFunctions {
  /** Distinct xxhash64 values of the `n`-token shingles of `text`. */
  def shingle_hashes(text: Column, n: Int): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(text), n))

  /** True (Lowrance–Wagner) Damerau–Levenshtein distance — matches
    * DuckDB's `damerau_levenshtein` exactly; see [[DamerauLevenshtein]]. */
  def damerau_levenshtein(a: Column, b: Column): Column =
    GraftBridge.column(DamerauLevenshtein(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def jaro_winkler(a: Column, b: Column): Column =
    GraftBridge.column(JaroWinkler(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** 1-based winnowing pick positions over a per-position hash array:
    * sliding `window` minimum, ties rightmost, duplicates collapsed. */
  def winnow_select(kh: Column, window: Int): Column =
    GraftBridge.column(WinnowSelect(GraftBridge.expression(kh), window))

  /** Per-position sha32 k-gram hashes of `text`, with multiplicity,
    * array index = 1-based k-gram position. */
  def sha32_kgrams(text: Column, k: Int): Column =
    GraftBridge.column(Sha32KgramHashes(GraftBridge.expression(text), k))

  /** k-permutation sha32 MinHash signature of `text`'s `n`-token
    * shingles; empty array when the text has no shingles. */
  def sha32_minhash_sigs(text: Column, n: Int, k: Int): Column =
    GraftBridge.column(Sha32MinHashSigs(GraftBridge.expression(text), n, k))

  /** Adjacent-token bigrams of `text`, with multiplicity. */
  def token_bigrams(text: Column): Column =
    GraftBridge.column(TokenBigrams(GraftBridge.expression(text)))
}
