package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Document-fingerprinting kernels: 64-bit content hash, winnowing-style
  * k-gram rolling fingerprint, and SimHash — the text-analysis primitives a
  * training-data pipeline needs for dedup at corpus scale. All are native
  * Catalyst expressions (static-call codegen) over UTF8 bytes; none shuffle
  * or allocate per row beyond the hash state. */
object TextHash {

  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64-bit over the UTF-8 bytes. */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** Rolling-hash document fingerprint: min FNV-1a over all byte k-grams
    * (k=8) — a winnowing-style content signature stable under reordering of
    * surrounding text. Short docs (<k bytes) hash whole-content. */
  def minKgramHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    val k = 8
    if (bytes.length < k) return fnv64(s)
    var min = Long.MaxValue
    var start = 0
    while (start <= bytes.length - k) {
      var h = FnvOffset
      var i = start
      while (i < start + k) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
      // unsigned comparison: fingerprints are uniform 64-bit values
      if (java.lang.Long.compareUnsigned(h, min) < 0) min = h
      start += 1
    }
    min
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** CDC boundary positions (see [[CdcBoundaries]]): character windows of
    * width 8, boundary iff the md5 16-bit prefix ≡ 0 (mod 16). Windows are
    * CODEPOINT-based because the portable oracle rule is
    * `substr(text, i, 8)` — SQL substr and Spark's `length()` both count
    * codepoints, not UTF-16 units, so a non-BMP character must occupy ONE
    * window slot here too (java String.substring would split surrogate
    * pairs and shift every boundary after the first astral char). */
  def cdcBoundaries(s: UTF8String): ArrayData = {
    val str = s.toString
    // offsets(c) = UTF-16 index where codepoint c starts; n = codepoints
    val u16 = str.length
    val offsets = new Array[Int](u16 + 1)
    var n = 0
    var u = 0
    while (u < u16) { offsets(n) = u; n += 1; u += Character.charCount(str.codePointAt(u)) }
    offsets(n) = u16
    if (n < 8) return ArrayData.toArrayData(Array.empty[Long])
    val md = md5Local.get()
    val out = new Array[Long](n - 7)
    var k = 0
    var i = 1
    while (i <= n - 7) {
      md.reset()
      val digest = md.digest(str.substring(offsets(i - 1), offsets(i + 7))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val prefix = ((digest(0) & 0xff) << 8) | (digest(1) & 0xff)
      if (prefix % 16 == 0) { out(k) = i.toLong; k += 1 }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, k))
  }

  /** 64-bit SimHash over a token array: per-token FNV-1a votes each bit up
    * or down; the sign of each tally is the output bit. Near-duplicate docs
    * differ in few bits (hamming distance). */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = fnv64(tokens.getUTF8String(t))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Lossy UTF-8 decode: invalid byte sequences become U+FFFD instead of
  * failing the query (reference text.rs:148-163 from_utf8_lossy parity —
  * Spark 4's builtin `decode` hard-errors under ANSI). */
case class Utf8Lossy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = UTF8String.fromString(
    new String(v.asInstanceOf[Array[Byte]], java.nio.charset.StandardCharsets.UTF_8))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"new java.lang.String($c, java.nio.charset.StandardCharsets.UTF_8))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = TextHash.fnv64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash$$.MODULE$$.fnv64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinKgramHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = TextHash.minKgramHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash$$.MODULE$$.minKgramHash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** tokens: array<string> → 64-bit simhash. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = TextHash.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash$$.MODULE$$.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** text → sorted array<long> of content-defined chunk boundary CHARACTER
  * positions (1-based): position i is a boundary iff the first 16 bits of
  * md5(utf8(substr(text, i, 8))) ≡ 0 (mod 16) — bit-identical to the
  * portable SQL spelling `conv(substr(md5(substr(text,i,8)),1,4),16,10) %
  * 16` both engines run in m8's oracle, at a fraction of its cost: one
  * thread-local MessageDigest reused across rows, one window encode per
  * position, no per-step Column allocations. A production CDC deployment
  * swaps the md5 window rule for a Gear/Rabin ROLLING hash here without
  * touching the operator's plan (the rule is an implementation detail of
  * this expression). */
case class CdcBoundaries(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHash.cdcBoundaries(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash$$.MODULE$$.cdcBoundaries($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextHashFunctions {
  def fnv64(c: Column): Column = toCol(Fnv64(toExpr(c)))
  def min_kgram_hash(c: Column): Column = toCol(MinKgramHash(toExpr(c)))
  def simhash64(tokens: Column): Column = toCol(SimHash64(toExpr(tokens)))
}
