package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Codegen'd kernels for the vector / signature math on the LLM-ops hot
  * path.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) are
  * CodegenFallback — every lambda step is an interpreted Expression eval.
  * For 2M candidate pairs × 64-dim dots (or 5 000 docs × 300 tokens × 60
  * SimHash bits) that interpretation dominated the sf0.1 bench (40 s+ per
  * query). These expressions keep identical semantics (same formulas the
  * DuckDB oracle replicates) but run as tight JVM loops invoked from
  * whole-stage codegen — the preference order SURVEY.md §7.3 sets out:
  * native `Expression` with `doGenCode` over UDF over interpreted chain.
  */
object VectorHashOps {
  final val P31: Long = 2147483647L

  /** Σ a[i]·b[i], left-to-right (same order as zip_with+aggregate and the
    * oracle's list_sum, so results stay bit-identical).
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0d
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** 60-bit SimHash over token hashes; bit k set iff
    * Σ_h (((h·(k+1) mod p) >> 5) & 1)·2−1 > 0. Single pass per document.
    */
  def simhash60(hashes: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var k = 0
      while (k < 60) {
        val bit = (((h * (k + 1)) % P31) >>> 5) & 1L
        counts(k) += (bit.toInt * 2) - 1
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 60) { if (counts(k) > 0) out |= 1L << k; k += 1 }
    out
  }

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Portable 32-bit string hash: first 4 bytes of md5 as an unsigned int
    * (identical to `conv(substring(md5(s),1,8),16,10)` / the oracle's
    * `('0x'||substr(md5(s),1,8))::BIGINT`).
    */
  def md5Prefix32(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** Word n-gram STRINGS straight from the raw text, one byte pass —
    * semantics identical to TextOps.shingles(TextOps.tokens(text), n)
    * (single-space split, space-joined grams, empty array below n
    * tokens) but with none of the interpreted HOF machinery: because
    * tokens split on single spaces and grams re-join with single
    * spaces, every gram IS a contiguous byte slice of the input, so
    * the kernel collects word-start offsets once and emits zero-copy
    * slices — no token array, no `sequence`, no per-gram
    * slice/array_join allocations. (0x20 never occurs inside a UTF-8
    * multibyte sequence, so the byte scan is code-point-safe.)
    */
  def wordNgrams(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int): ArrayData = {
    // n = 0 would compute a negative slice length below (undefined
    // UTF8String.fromBytes behavior), silently diverging from the HOF
    // reference formulation — fail fast instead.
    require(n >= 1, s"wordNgrams: n must be >= 1, got $n")
    val b = text.getBytes
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == ' ') spaces += 1; i += 1 }
    val words = spaces + 1
    if (words < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](words)
    starts(0) = 0
    var w = 1
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    val out = new Array[Any](words - n + 1)
    var g = 0
    while (g <= words - n) {
      val s = starts(g)
      val e = if (g + n < words) starts(g + n) - 1 else b.length
      out(g) = org.apache.spark.unsafe.types.UTF8String
        .fromBytes(b, s, e - s)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct hashed word-n-gram shingles of a token array, single pass
    * (first-occurrence order — downstream consumers are set ops, order
    * never observable). Semantics identical to
    * TextOps.shingles → hash32 → array_distinct.
    */
  def shingleHashSet(tokens: ArrayData, n: Int): ArrayData = {
    val numToks = tokens.numElements()
    if (numToks < n) return new GenericArrayData(Array.emptyLongArray)
    val toks = new Array[String](numToks)
    var i = 0
    while (i < numToks) { toks(i) = tokens.getUTF8String(i).toString; i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    i = 0
    while (i <= numToks - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      seen.add(md5Prefix32(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** One-pass winnowing selection (Schleimer et al. SIGMOD'03 §4):
    * positional n-token shingle hashes → per-window rightmost-tie
    * argmin → distinct (pos, hash) selections, PACKED as
    * (pos << 32) | hash32 longs (hash32 < 2^32 by construction).
    * Same semantics as the HOF formulation (shingle → windowed
    * aggregate argmin → array_distinct) that the oracle replays, but
    * as a single JVM loop under codegen — HOF lambdas interpret every
    * window step per row (measured 5 s over sf0.1's corpus).
    * Short docs (0 < hashes < w) get one degenerate window; docs
    * shorter than n tokens return an empty array.
    */
  def winnowSelect(tokens: ArrayData, n: Int, w: Int): ArrayData = {
    val numToks = tokens.numElements()
    if (numToks < n) return new GenericArrayData(Array.emptyLongArray)
    val toks = new Array[String](numToks)
    var i = 0
    while (i < numToks) { toks(i) = tokens.getUTF8String(i).toString; i += 1 }
    val nh = numToks - n + 1
    val hs = new Array[Long](nh)
    val sb = new java.lang.StringBuilder(64)
    i = 0
    while (i < nh) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      hs(i) = md5Prefix32(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    val nWin = math.max(nh - w + 1, 1)
    val sel = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i < nWin) {
      var best = -1
      var bv = Long.MaxValue
      var j = i
      val hi = math.min(i + w - 1, nh - 1)
      while (j <= hi) { // <= keeps the RIGHTMOST tie
        if (hs(j) <= bv) { bv = hs(j); best = j }
        j += 1
      }
      sel.add((best.toLong << 32) | bv)
      i += 1
    }
    val out = new Array[Long](sel.size())
    val it = sel.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Intersection size of two ASCENDING-sorted long arrays (two-pointer
    * merge): zero allocation per call, unlike array_intersect which
    * builds a hash set plus a result array per row — the difference is
    * the dominant GC load of pair-verification stages, where this runs
    * once per CANDIDATE PAIR. Callers sort once per DOCUMENT before the
    * pair join. Duplicate elements never advance the count twice on one
    * side (inputs are sets by construction; equal runs advance both
    * pointers together).
    */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Upper-bound binary search: how many elements of the ASCENDING-
    * sorted `cuts` are <= v — identical to
    * `size(filter(cuts, c -> c <= v))` for NON-NULL v, in O(log n)
    * instead of O(n) per row. Null handling differs at the expression
    * layer: [[CutsBucketExpr]] is null-in/null-out (standard
    * expression semantics), while the HOF form's lambda null-drops
    * every element and yields 0 — callers with nullable inputs must
    * coalesce explicitly. The linear HOF filter was measured as the dominant cost of
    * the codebook quantile rescue (the r18 rescue probe, SCALE.md:
    * 1023 comparisons per row across the candidate corpus dwarfed
    * both the quantile pass and the ranking it rescues); this is the
    * same monotone bucketing, so ordinals stay exact.
    */
  def upperBound(cuts: ArrayData, v: Long): Long = {
    var lo = 0
    var hi = cuts.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cuts.getLong(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  /** Hash each token (portable md5-prefix32), preserving order/duplicates —
    * the SimHash input. Identical to transform(tokens, hash32).
    */
  def tokenHashes(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = md5Prefix32(tokens.getUTF8String(i).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of tokens present in `words` (duplicates counted — occurrence
    * semantics, same as filter(toks, t -> t IN (...)) |> size).
    */
  def countIn(tokens: ArrayData, words: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]): Int = {
    val n = tokens.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (words.contains(tokens.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** Shannon entropy (nats) of a string's code-point distribution:
    * H = ln(n) − (Σ cᵢ·ln cᵢ)/n. A low-entropy text (repeated chars,
    * binary-ish runs, keyboard mashing) is a classic corpus-quality
    * reject signal. Counts accumulate in ASCENDING code-point order
    * (sorted run-length scan), so the floating-point sum is
    * reproducible — the oracle mirrors with an ORDER BY ch list sum.
    * Empty string → 0.0.
    */
  /** One-pass lexical stats over a token array: [n_tokens, n_types,
    * n_hapax]. Replaces the O(types·tokens) nested-filter HOF form
    * (CodegenFallback, interpreted) with a single hash-count pass —
    * the qK5 hot path. Null tokens (can't come from split, but
    * defensively) count as tokens and as one shared type.
    */
  def lexicalStats(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val counts = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Integer](
      Math.max(16, n * 2))
    var nulls = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) nulls += 1
      else {
        val t = arr.getUTF8String(i)
        val c = counts.get(t)
        counts.put(t, if (c == null) 1 else c + 1)
      }
      i += 1
    }
    var hapax = 0L
    val it = counts.values().iterator()
    while (it.hasNext) if (it.next() == 1) hapax += 1
    val types = counts.size().toLong + (if (nulls > 0) 1L else 0L)
    if (nulls == 1) hapax += 1
    new GenericArrayData(Array[Long](n.toLong, types, hapax))
  }

  def charEntropy(s: org.apache.spark.unsafe.types.UTF8String): Double = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n == 0) return 0.0d
    val cps = new Array[Int](n)
    var i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    java.util.Arrays.sort(cps)
    var acc = 0.0d
    var run = 1L
    var k = 1
    while (k <= n) {
      if (k < n && cps(k) == cps(k - 1)) run += 1
      else { acc += run * Math.log(run.toDouble); run = 1L }
      k += 1
    }
    Math.log(n.toDouble) - acc / n
  }

  /** Greedy leftmost merge of one adjacent symbol pair — the BPE merge
    * step: every non-overlapping (a, b) adjacency becomes the single
    * symbol a+b, scanning left to right ("a a a" with pair (a,a) →
    * ["aa", "a"], the canonical BPE greedy semantics).
    */
  def mergePair(arr: ArrayData,
      a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && a.equals(arr.getUTF8String(i)) &&
          b.equals(arr.getUTF8String(i + 1))) {
        out.add(org.apache.spark.unsafe.types.UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(arr.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Token→id encoding against a fixed vocabulary: one hash probe per
    * token, OOV → 0. Order/duplicates preserved (the training consumer
    * needs the id sequence, not a bag).
    */
  def encodeIds(tokens: ArrayData,
      vocab: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer]): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val id = vocab.get(tokens.getUTF8String(i))
      out(i) = if (id == null) 0 else id.intValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature, sig[j] = min_h (h·(2j+1) + (31j²+7)) mod p. */
  def minhashSig(hashes: ArrayData, numHashes: Int): ArrayData = {
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = (h * (2 * j + 1) + (31L * j * j + 7)) % P31
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
/** Hilbert xy2d (the iterative quadrant-rotation form): map grid
    * point (x, y) to its position along the order-`bits` Hilbert curve.
    * Inputs must be in [0, 2^bits); [[HilbertExpr]] guards the range.
    */
  def hilbertXy2d(x0: Long, y0: Long, bits: Int): Long = {
    val n = 1L << bits
    var x = x0
    var y = y0
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}


/** vec_dot(array<double>, array<double>) → double. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  // declared input types (review r18, same class as cuts_bucket): the
  // packed-ArrayData readers return GARBAGE, not an error, when SQL
  // hands them an int/float-typed array literal — the implicit cast
  // coerces to the declared element types instead
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorHashOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorHashOps.dot($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VecDot = copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** sorted_intersect_size(array<long>, array<long>) → long — both inputs
  * must be ascending-sorted; equals size(array_intersect(a, b)) on set
  * inputs without the per-row hash-set/result-array allocation.
  */
case class SortedIntersectSizeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorHashOps.sortedIntersectSize(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorHashOps.sortedIntersectSize($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectSizeExpr =
    copy(left = l, right = r)
  override def prettyName: String = "sorted_intersect_size"
}

/** cuts_bucket(long, array<long>) → long: upper-bound binary search —
  * the count of elements of the ascending-sorted cuts array that are
  * <= the value. Equals size(filter(cuts, c -> c <= v)) (the HOF form
  * it replaces in the codebook quantile rescue) for NON-NULL v, but
  * O(log n) per row and codegen-native instead of a CodegenFallback
  * lambda filter. Null v yields null (the HOF form yielded 0) — the
  * rescue's vids are non-null by precondition (stored corpus ids), as
  * planBlocks documents.
  */
case class CutsBucketExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  // declared input types (review r18): without them the PUBLIC SQL
  // registration accepts the natural literal `array(1, 2)` — an
  // array<int> — and codegen reads 8-byte slots over 4-byte-packed
  // elements: garbage buckets with no error (and a divergent CCE on
  // the interpreted path). The implicit cast coerces int inputs to
  // the declared long shapes instead. (The signature's element type,
  // AbstractDataType, is private[sql] — the inferred Seq[DataType]
  // conforms without naming it.)
  override def inputTypes: Seq[DataType] =
    Seq(LongType, ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any, cuts: Any): Any =
    VectorHashOps.upperBound(cuts.asInstanceOf[ArrayData],
      v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, cuts) => s"graft.functions.VectorHashOps.upperBound($cuts, $v)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CutsBucketExpr =
    copy(left = l, right = r)
  override def prettyName: String = "cuts_bucket"
}

/** simhash60(array<long>) → long. */
case class SimHash60Expr(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.simhash60(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorHashOps.simhash60($c)")
  override protected def withNewChildInternal(c: Expression): SimHash60Expr =
    copy(child = c)
  override def prettyName: String = "simhash60"
}

/** shingle_hash_set(array<string> tokens, n literal) → array<long>. */
case class ShingleHashSetExpr(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.shingleHashSet(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.shingleHashSet($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashSetExpr =
    copy(child = c)
  override def prettyName: String = "shingle_hash_set"
}

/** token_hashes(array<string>) → array<long> (order-preserving). */
case class TokenHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.tokenHashes(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.tokenHashes($c)")
  override protected def withNewChildInternal(c: Expression): TokenHashesExpr =
    copy(child = c)
  override def prettyName: String = "token_hashes"
}

/** word_ngrams(string, n) → array<string>: space-joined word n-grams as
  * zero-copy byte slices of the input — the explode feed for the
  * heavy-hitter passes (one generated-code static call per row instead
  * of the interpreted sequence/slice/array_join HOF chain).
  */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.wordNgrams(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.wordNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordNgramsExpr =
    copy(child = c)
  override def prettyName: String = "word_ngrams"
}

/** merge_pair(array<string>, a, b) → array<string>: greedy leftmost BPE
  * merge of one adjacency. The pair rides into generated code as
  * reference objects; the merge is a per-row projection, so one BPE
  * round never shuffles the corpus.
  */
case class MergePairExpr(child: Expression, a: String, b: String)
    extends UnaryExpression {
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String
  @transient private lazy val au = UTF8String.fromString(a)
  @transient private lazy val bu = UTF8String.fromString(b)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.mergePair(v.asInstanceOf[ArrayData], au, bu)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mergeA", au,
      "org.apache.spark.unsafe.types.UTF8String")
    val bRef = ctx.addReferenceObj("mergeB", bu,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.mergePair($c, $aRef, $bRef)")
  }
  override protected def withNewChildInternal(c: Expression): MergePairExpr =
    copy(child = c)
  override def prettyName: String = "merge_pair"
}

/** char_entropy(string) → double: Shannon entropy of the code-point
  * distribution, the per-row scan-speed quality signal (no explode, no
  * char-stream shuffle — the naive formulation shuffles |corpus|×|doc|
  * single-character rows through a groupBy).
  */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.charEntropy(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.charEntropy($c)")
  override protected def withNewChildInternal(c: Expression): CharEntropyExpr =
    copy(child = c)
  override def prettyName: String = "char_entropy"
}

/** lexical_stats(array<string>) → array<long> [n_tokens, n_types,
  * n_hapax]: the one-pass hash-count kernel behind
  * [[graft.operators.TextAnalysis.lexicalDiversity]].
  */
case class LexicalStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.lexicalStats(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.lexicalStats($c)")
  override protected def withNewChildInternal(c: Expression): LexicalStatsExpr =
    copy(child = c)
  override def prettyName: String = "lexical_stats"
}

/** stop_hits(array<string> tokens, words): occurrences of any listed word.
  * The word set rides into generated code as a codegen reference object —
  * one hash probe per token, no per-token OR chain.
  */
case class StopHitsExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  import org.apache.spark.unsafe.types.UTF8String

  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.countIn(v.asInstanceOf[ArrayData], wordSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopWords", wordSet,
      "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.countIn($c, $setRef)")
  }
  override protected def withNewChildInternal(c: Expression): StopHitsExpr =
    copy(child = c)
  override def prettyName: String = "stop_hits"
}

/** An IVF codebook: centroid ids (ascending), vectors, and squared norms.
  * Small by construction (a production index trains thousands of centroids
  * for billions of vectors), so it ships to executors as a codegen
  * reference object — the "broadcast the codebook" shape — making cell
  * assignment a pure per-row projection with zero shuffles.
  */
final class Codebook(val cids: Array[Long], val cvs: Array[Array[Double]],
    val cn2s: Array[Double]) extends Serializable {
  // An empty codebook would silently assign every row to a nonexistent
  // cell 0 (argmin's `best` initializer) — fail construction instead.
  require(cids.nonEmpty, "Codebook requires at least one centroid")

  /** Nearest-centroid id by squared L2, d2 = nrm² − 2·(v·c) + |c|², ties
    * to the smallest cid (ascending scan, strict <) — the same formula,
    * summation order, and tie-break as the oracle's
    * `row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid)`.
    */
  def argmin(v: ArrayData, nrm: Double): Long = {
    val vn2 = nrm * nrm
    var best = 0L
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < cids.length) {
      val cv = cvs(j)
      val n = math.min(v.numElements(), cv.length)
      var s = 0.0d
      var i = 0
      while (i < n) { s += v.getDouble(i) * cv(i); i += 1 }
      val d2 = vn2 - 2.0 * s + cn2s(j)
      if (d2 < bestD) { bestD = d2; best = cids(j) }
      j += 1
    }
    best
  }
}

object Codebook {
  /** Rebuild from flattened literals (the `call_function` transport):
    * centroid j's vector is `flat[j*dim, (j+1)*dim)`. Sorts by cid so the
    * ascending-scan tie-break holds regardless of input order.
    */
  def fromFlat(cids: Array[Long], flat: Array[Double],
      cn2s: Array[Double]): Codebook = {
    val k = cids.length
    val dim = if (k == 0) 0 else flat.length / k
    val idx = Array.range(0, k).sortBy(cids)
    new Codebook(
      idx.map(cids),
      idx.map(j => java.util.Arrays.copyOfRange(flat, j * dim, (j + 1) * dim)),
      idx.map(cn2s))
  }
}

/** argmin_cell(array<double> v, double nrm) → long: nearest-centroid id
  * over a driver-built [[Codebook]] riding into generated code as a
  * reference object (same pattern as [[StopHitsExpr]]'s word set).
  */
case class ArgminCellExpr(left: Expression, right: Expression,
    codebook: Codebook) extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any, nrm: Any): Any =
    codebook.argmin(v.asInstanceOf[ArrayData], nrm.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebook", codebook,
      "graft.functions.Codebook")
    defineCodeGen(ctx, ev, (v, nrm) => s"$ref.argmin($v, $nrm)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ArgminCellExpr = copy(left = l, right = r)
  override def prettyName: String = "argmin_cell"
}

/** vocab_encode(array<string> tokens) → array<int>: token ids against a
  * broadcast-sized vocabulary riding into generated code as a reference
  * object (same pattern as [[StopHitsExpr]]). Id = 1-based rank in the
  * transport order; out-of-vocabulary → 0 (the unk id). This keeps
  * tokenization a pure per-row projection — the explode→join→regroup
  * alternative shuffles the full token stream (≈10× the corpus) twice.
  */
case class VocabEncodeExpr(child: Expression, vocabTokens: Seq[String])
    extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  import org.apache.spark.unsafe.types.UTF8String

  @transient private lazy val vocab: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    vocabTokens.zipWithIndex.foreach { case (t, i) =>
      m.put(UTF8String.fromString(t), Integer.valueOf(i + 1))
    }
    m
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.encodeIds(v.asInstanceOf[ArrayData], vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocab", vocab,
      "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String, Integer>")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.encodeIds($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): VocabEncodeExpr =
    copy(child = c)
  override def prettyName: String = "vocab_encode"
}

/** minhash_sig(array<long>, numHashes literal) → array<long>. */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.minhashSig(v.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.minhashSig($c, $numHashes)")
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** hilbert_xy2d(x, y) with a literal order — the Hilbert-curve index
  * kernel behind [[graft.operators.Layout.hilbertValue]]. The per-bit
  * quadrant rotation is inherently sequential state, exactly the shape
  * HOF folds interpret per row (measured 12 s over 600k rows at
  * sf0.1); as a tight JVM loop under codegen it is scan-speed like the
  * Morton interleave.
  */
case class HilbertExpr(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(bits >= 1 && bits <= 16, "bits must be in [1, 16]")
  // scalar ints WIDEN under codegen but CCE on the interpreted path —
  // declaring the long inputs makes the two paths agree (review r18)
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  private val max = 1L << bits
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]
    val y = b.asInstanceOf[Long]
    if (x < 0 || x >= max || y < 0 || y >= max) null
    else java.lang.Long.valueOf(
      graft.functions.VectorHashOps.hilbertXy2d(x, y, bits))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |if ($a < 0L || $a >= ${max}L || $b < 0L || $b >= ${max}L) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    graft.functions.VectorHashOps.hilbertXy2d($a, $b, $bits);
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HilbertExpr = copy(left = l, right = r)
  override def prettyName: String = "hilbert_xy2d"
}

/** winnow_select(tokens, n, w) → array<long> of packed (pos<<32)|hash
  * winnowing selections. */
case class WinnowSelectExpr(child: Expression, n: Int, w: Int)
    extends UnaryExpression {
  require(n >= 1 && w >= 1, "n >= 1 and w >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    VectorHashOps.winnowSelect(v.asInstanceOf[ArrayData], n, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorHashOps.winnowSelect($c, $n, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowSelectExpr =
    copy(child = c)
  override def prettyName: String = "winnow_select"
}
