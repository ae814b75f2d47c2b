package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernels callable from generated code. The arithmetic is
  * the cross-engine contract of graft.pipeline.TextHash — polynomial
  * folds over codepoints mod a prime — just executed as tight JVM loops
  * instead of interpreted Catalyst lambda trees (higher-order functions
  * are CodegenFallback in Spark and cost ~µs per element; these kernels
  * are the difference between 40 s and 2 s on the sf0.1 corpus).
  */
object HashKernels {
  val P: Long = 1000003L

  /** Wide hash modulus for sketches that need real bit depth (HLL
    * register geometry, theta-sketch thresholds): the largest prime
    * below 2^58 = 288230376151711744. Chosen so BOTH engines stay in
    * exact 64-bit integer arithmetic: the fold step `acc*31 + c` with
    * `acc < PW` peaks at 31·(PW−1)+0x10FFFF ≈ 8.94e18 < 2^63−1, and the
    * HLL bucket split `w = h / 256` leaves w < 2^50, so register
    * geometry (W = 50 bits) is fixed and cross-engine exact. */
  val PW: Long = 288230376151711717L

  /** fold: acc = (acc*31 + codepoint) % P over the string — CODE
    * POINTS, not UTF-16 units: both mirror formulations iterate code
    * points (Spark's `ascii(substr(t,i,1))` over `sequence(1,
    * length(t))` and DuckDB's `ascii()` fold — probe-verified on
    * non-BMP input), so a surrogate pair contributes ONE value here
    * too. Identical on BMP text (code unit == code point). */
  def polyHash(s: UTF8String, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % mod
      i += java.lang.Character.charCount(cp)
    }
    acc
  }

  /** DISTINCT bigram shingle hashes in one pass: tokens split on
    * single spaces with empty tokens KEPT (Spark `split(text, " ")`
    * semantics — the per-token hash of an empty token is 0), bigram
    * values (h(t_i)·8191 + h(t_{i+1})) mod `mod` with h = [[polyHash]]
    * — the TextHash shingle contract — deduplicated per document
    * (repeats can only occur WITHIN a doc, so exploding these arrays
    * yields globally distinct (id, s) pairs with no distinct shuffle
    * at all; the old formulation paid a window shuffle of every
    * token-hash row plus a distinct shuffle of every shingle row).
    * Output order is the first-occurrence order; every consumer
    * aggregates, so order is immaterial. Empty array when the text
    * has fewer than two tokens. */
  def shingleHashes(s: UTF8String, mod: Long): Array[Long] = {
    val str = s.toString
    val hashes = scala.collection.mutable.ArrayBuilder.make[Long]
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i) // code-point fold, see [[polyHash]]
      if (cp == ' ') { hashes += acc; acc = 0L }
      else acc = (acc * 31 + cp) % mod
      i += java.lang.Character.charCount(cp)
    }
    hashes += acc
    val h = hashes.result()
    if (h.length < 2) return Array.emptyLongArray
    val seen = new java.util.HashSet[java.lang.Long](h.length * 2)
    val out = scala.collection.mutable.ArrayBuilder.make[Long]
    out.sizeHint(h.length - 1)
    var j = 0
    while (j < h.length - 1) {
      val v = (h(j) * 8191L + h(j + 1)) % mod
      if (seen.add(v)) out += v
      j += 1
    }
    out.result()
  }

  /** One-pass SimHash over whitespace tokens: tokens split on single
    * spaces with empties KEPT (`split(text, " ")` semantics, h("")=0),
    * per-OCCURRENCE token hash h = [[polyHash]], bit j of the result
    * set iff Σ_occurrences (bit j of h ? +1 : −1) > 0 — value-identical
    * to the exploded 32-sum-aggregate formulation (integer sums,
    * order-independent), executed as one tight loop per document
    * instead of a 32-column HashAggregate over every token row (the
    * explode form was the dedup_simhash decade pole: ~20M aggregated
    * rows × 32 conditional sums at sf1). */
  def simhash(s: UTF8String, bits: Int, mod: Long): Long = {
    val str = s.toString
    val cnt = new Array[Int](bits)
    var acc = 0L
    var i = 0
    while (i <= str.length) {
      val boundary = i == str.length || str.charAt(i) == ' '
      if (boundary) {
        var j = 0
        while (j < bits) {
          if (((acc >>> j) & 1L) == 1L) cnt(j) += 1 else cnt(j) -= 1
          j += 1
        }
        acc = 0L
        i += 1
      } else {
        val cp = str.codePointAt(i) // code-point fold, see [[polyHash]]
        acc = (acc * 31 + cp) % mod
        i += java.lang.Character.charCount(cp)
      }
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (cnt(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** All L-token window span hashes in ONE pass over the text bytes.
    *
    * `split(text, " ")` followed by `concat_ws(" ", slice(w, i, L))` is
    * the identity on byte ranges — splitting on the single-space
    * regex and re-joining with a space reconstructs the exact input
    * bytes (empty tokens included) — so the span of tokens i..i+L−1 IS
    * the byte range from token i's start to token i+L−1's end, and the
    * kernel hashes straight off the UTF8String's memory: no per-window
    * token-array slice, no string materialization, no interpreted
    * higher-order lambda (the transform/slice/concat_ws form costs ~µs
    * and an allocation per window; this is the same 40 s → 2 s class
    * of win as [[shingleHashes]]).
    *
    * Each element is struct(i, h1, h2): i = the 1-based window start
    * (`sequence(1, n−L+1)` semantics), h1 = XXH64(span bytes, seed 42)
    * — bit-identical to Spark's `xxhash64(span)` — and h2 =
    * XXH64(span bytes, seed 1), an INDEPENDENT second fold. The old
    * `xxhash64(span, lit(1))` "second half" was h2 = hashLong(1, h1) —
    * a pure function of h1, so the (h1,h2) key carried only 64 real
    * bits; two seeded folds make the 128-bit key genuine (collision
    * odds at 10¹⁰ windows: ~10⁻¹⁸ rather than a handful expected).
    * Returns an empty array when the text has fewer than L tokens. */
  def spanHashes(s: UTF8String, L: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    // token start byte offsets (split-on-space keeps empties)
    val starts = scala.collection.mutable.ArrayBuilder.make[Int]
    starts += 0
    var k = 0
    while (k < nb) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + k) == 0x20)
        starts += k + 1
      k += 1
    }
    val st = starts.result()
    val nTok = st.length
    val nWin = nTok - L + 1
    if (nWin <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val rows = new Array[Any](nWin)
    var i = 0
    while (i < nWin) {
      val b = st(i)
      val e = if (i + L < nTok) st(i + L) - 1 else nb
      val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + b, e - b, 42L)
      val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + b, e - b, 1L)
      rows(i) = InternalRow(i + 1, h1, h2)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Per-document DSIR bucket counts in one pass: words split on
    * single spaces, EMPTY words skipped (the `length(word) > 0` filter),
    * per-word [[polyHash]] mod `buckets` (h ≥ 0, so pmod = %), counted
    * into a dense array — value-identical to exploding every word
    * occurrence through the interpreted aggregate/transform lambda and
    * re-grouping (integer counts, order-independent), with ZERO
    * exchanged word rows. Element = struct(b, n) for nonzero buckets. */
  def dsirBuckets(s: UTF8String, buckets: Int, mod: Long)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val cnt = new Array[Long](buckets)
    var acc = 0L
    var len = 0
    var i = 0
    while (i <= str.length) {
      if (i == str.length || str.charAt(i) == ' ') {
        if (len > 0) cnt((acc % buckets).toInt) += 1
        acc = 0L; len = 0
        i += 1
      } else {
        val cp = str.codePointAt(i) // code-point fold, see [[polyHash]]
        acc = (acc * 31 + cp) % mod
        len += 1
        i += java.lang.Character.charCount(cp)
      }
    }
    var nz = 0
    i = 0
    while (i < buckets) { if (cnt(i) > 0) nz += 1; i += 1 }
    val rows = new Array[Any](nz)
    var t = 0
    i = 0
    while (i < buckets) {
      if (cnt(i) > 0) { rows(t) = InternalRow(i, cnt(i)); t += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** `size(split(text, " "))` without materializing the token array:
    * spaces + 1 in one byte scan. */
  def tokenCount(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    var c = 1
    var k = 0
    while (k < nb) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + k) == 0x20)
        c += 1
      k += 1
    }
    c
  }

  /** rolling 8-codepoint window hashes (fixed 31^k weights, mod P):
    * returns (min window hash, distinct window count); null-signal -1
    * when the string is shorter than 8 code points. Windows and values
    * are CODE POINTS (`substr(text, i+k, 1)` / `length(text)` in both
    * mirror engines count code points — see [[polyHash]]). */
  def fingerprint8(s: UTF8String, mod: Long): Array[Long] = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length - 7
    if (n <= 0) return null
    val seen = new java.util.HashSet[Long](math.min(n * 2, 1 << 16))
    var minH = Long.MaxValue
    var i = 0
    while (i < n) {
      var h = 0L
      var k = 0
      while (k < 8) { h = h * 31 + cps(i + k); k += 1 }
      h %= mod
      if (h < minH) minH = h
      seen.add(h)
      i += 1
    }
    Array(minH, seen.size.toLong)
  }
}

/** Codegen'd polynomial string hash (the TextHash token hash). */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(v: Any): Any =
    HashKernels.polyHash(v.asInstanceOf[UTF8String], HashKernels.P)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.polyHash($c, ${HashKernels.P}L)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Codegen'd one-pass SimHash ([[HashKernels.simhash]]). */
case class SimHash(child: Expression, bits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override def nullSafeEval(v: Any): Any =
    HashKernels.simhash(v.asInstanceOf[UTF8String], bits, HashKernels.P)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.simhash($c, $bits, ${HashKernels.P}L)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Codegen'd polynomial string hash mod [[HashKernels.PW]] — the
  * 58-bit variant sketches hash through. Same fold as [[PolyHash]],
  * wider modulus: P (≈2^20) leaves too few bits to split into an HLL
  * bucket index plus a leading-zero pattern, PW leaves 50. */
case class PolyHashWide(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash_wide"

  override def nullSafeEval(v: Any): Any =
    HashKernels.polyHash(v.asInstanceOf[UTF8String], HashKernels.PW)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.polyHash($c, ${HashKernels.PW}L)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Codegen'd per-document bigram shingle-hash array (the TextHash
  * shingle contract in one scan — see [[HashKernels.shingleHashes]]). */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(v: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(HashKernels.shingleHashes(
        v.asInstanceOf[UTF8String], HashKernels.P))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray(graft.functions.HashKernels.shingleHashes(" +
        s"$c, ${HashKernels.P}L))")

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Codegen'd per-document L-token span-hash array
  * ([[HashKernels.spanHashes]]): element = struct(i, h1, h2) per
  * window, hashed straight off the text bytes. */
case class SpanHashes(child: Expression, l: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "span_hashes"

  override def nullSafeEval(v: Any): Any =
    HashKernels.spanHashes(v.asInstanceOf[UTF8String], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.spanHashes($c, $l)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Codegen'd per-document DSIR bucket-count array
  * ([[HashKernels.dsirBuckets]]): element = struct(b, n). */
case class DsirBuckets(child: Expression, buckets: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "dsir_buckets"

  override def nullSafeEval(v: Any): Any =
    HashKernels.dsirBuckets(v.asInstanceOf[UTF8String], buckets,
      HashKernels.P)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.dsirBuckets($c, $buckets, " +
        s"${HashKernels.P}L)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Codegen'd token count (`size(split(text, " "))` without the array). */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "token_count"

  override def nullSafeEval(v: Any): Any =
    HashKernels.tokenCount(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.tokenCount($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-document rolling-fingerprint kernel: one pass over the text,
  * emits struct(fingerprint, n_distinct_grams). Evaluated once per doc
  * (CodegenFallback is irrelevant at that call frequency). */
case class Fingerprint8(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("fingerprint", LongType),
    StructField("n_distinct_grams", LongType)))
  override def prettyName: String = "fingerprint8"

  override def nullSafeEval(v: Any): Any = {
    val r = HashKernels.fingerprint8(v.asInstanceOf[UTF8String], HashKernels.P)
    if (r == null) null else InternalRow(r(0), r(1))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

object BitsetKernels {
  /** popcount of the AND of two long-array bitsets. */
  def andPopcount(a: org.apache.spark.sql.catalyst.util.ArrayData,
                  b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) & b.getLong(i))
      i += 1
    }
    acc
  }
}

/** Codegen'd |A ∩ B| for set-membership bitsets stored as array<bigint>
  * — the inner kernel of the dense-vocabulary all-pairs Jaccard path
  * (16 long-ops per pair vs a shuffled inverted-index join). */
case class BitsetAndCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bitset_and_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    BitsetKernels.andPopcount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.BitsetKernels.andPopcount($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(l, r)
}

/** Codegen'd merges-table BPE token count ([[graft.pipeline.Bpe]]):
  * the real rank-ordered merge loop as one generated-code call per
  * document — token counting for mixture planning stays inside
  * whole-stage codegen. */
case class BpeTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  override def nullSafeEval(v: Any): Any =
    graft.pipeline.Bpe.countTokens(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.pipeline.Bpe.countTokens($c.toString())")

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** [[BpeTokenCount]] with a caller-supplied merges table (e.g. the
  * rules bpe_train just learned from the corpus): the
  * [[graft.pipeline.BpeTable]] is driver state riding the plan via
  * addReferenceObj, so tokenizing with a freshly-trained vocabulary is
  * still one codegen call per document. */
case class BpeTokenCountTable(child: Expression,
    merges: Seq[(String, String)]) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count_table"

  @transient private lazy val table =
    new graft.pipeline.BpeTable(merges.toIndexedSeq)

  override def nullSafeEval(v: Any): Any =
    table.countTokens(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("bpeTable", table,
      "graft.pipeline.BpeTable")
    defineCodeGen(ctx, ev, c => s"$t.countTokens($c.toString())")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Membership probe of a LONG hash column against a driver-built Bloom
  * filter (`org.apache.spark.util.sketch.BloomFilter`, the sketch
  * Spark's own runtime row-level filtering uses). The filter rides the
  * plan as a reference object, so the probe inlines into whole-stage
  * codegen — the incremental-dedup prefilter runs at scan speed with
  * no UDF boxing. False positives are possible by construction; the
  * caller must verify candidates exactly (false negatives cannot
  * occur, so no duplicate is ever missed). */
case class BloomMightContain(child: Expression,
    filter: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(v: Any): Any =
    filter.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("bloom", filter,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, v => s"$f.mightContainLong($v)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HashF {
  def bloomMightContain(c: Column,
      filter: org.apache.spark.util.sketch.BloomFilter): Column =
    GraftColumnBridge.column(BloomMightContain(
      GraftColumnBridge.expression(c), filter))
  def bpeTokenCount(c: Column): Column =
    GraftColumnBridge.column(BpeTokenCount(GraftColumnBridge.expression(c)))
  def bpeTokenCountTable(c: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(BpeTokenCountTable(
      GraftColumnBridge.expression(c), merges))
  def polyHash(c: Column): Column =
    GraftColumnBridge.column(PolyHash(GraftColumnBridge.expression(c)))
  def simhash(c: Column, bits: Int): Column =
    GraftColumnBridge.column(SimHash(GraftColumnBridge.expression(c), bits))
  def polyHashWide(c: Column): Column =
    GraftColumnBridge.column(PolyHashWide(GraftColumnBridge.expression(c)))
  def shingleHashes(c: Column): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(c)))
  def fingerprint8(c: Column): Column =
    GraftColumnBridge.column(Fingerprint8(GraftColumnBridge.expression(c)))
  def spanHashes(c: Column, l: Int): Column =
    GraftColumnBridge.column(SpanHashes(GraftColumnBridge.expression(c), l))
  def tokenCount(c: Column): Column =
    GraftColumnBridge.column(TokenCount(GraftColumnBridge.expression(c)))
  def dsirBuckets(c: Column, buckets: Int): Column =
    GraftColumnBridge.column(DsirBuckets(
      GraftColumnBridge.expression(c), buckets))
}
