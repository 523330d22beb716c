package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** SQ8 scalar quantization for dense vectors: each dimension is mapped to
  * an 8-bit code against per-dimension [lo, hi] bounds — 4× smaller than
  * float32 storage (64 bytes vs 256 for a 64-dim vector), which at corpus
  * scale is 4× less scan I/O, shuffle, and cache footprint for the
  * candidate-generation pass of ANN search (the representation trade Faiss
  * calls SQ8). Scoring is ASYMMETRIC (ADC): the query stays full-precision
  * and corpus codes are dequantized on the fly inside a native kernel, so
  * quantization error enters each pair's score once, not twice.
  *
  * The kernel walks the ArrayData buffers directly in generated code (the
  * [[VectorKernels]] pattern) — no per-pair allocation, no UDF. */
object QuantizeKernels {

  /** ADC dot: full-precision float query `q` · SQ8 `code`, with
    * per-dimension dequantization bounds (`lo`, `step` as double arrays).
    * Codes are stored shifted by −128 to fit the signed byte range. */
  def sq8AdcDot(q: ArrayData, code: ArrayData, lo: ArrayData, step: ArrayData): Double = {
    val n = math.min(q.numElements(), code.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val deq = lo.getDouble(i) + step.getDouble(i) * (code.getByte(i) + 128).toDouble
      acc += q.getFloat(i).toDouble * deq
      i += 1
    }
    acc
  }
}

/** q: array<float> (full-precision query) · code: array<tinyint> (SQ8),
  * dequantized with lo/step: array<double> → double. */
case class Sq8AdcDot(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(q: Any, c: Any, l: Any, st: Any): Any =
    QuantizeKernels.sq8AdcDot(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      l.asInstanceOf[ArrayData], st.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.QuantizeKernels$$.MODULE$$.sq8AdcDot($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** Product-quantization kernels (the PQ/ADC lineage — Jégou et al.,
  * PAPERS.md): a vector is split into M contiguous subvectors, each
  * encoded as the id of its nearest per-subspace centroid — M bytes per
  * vector. Scoring is asymmetric: the full-precision query precomputes a
  * LUT of (subspace × centroid) partial dots ONCE per query, and each
  * corpus candidate then costs M array lookups — not a D-dim product —
  * which is the ADC speed claim on top of the compression claim. */
object PqKernels {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Per-query ADC lookup table: flat [m][c] → dot(q_sub(m), books[m][c]).
    * `books` is the flat [m][c][dim] codebook (M·Ks·subDim doubles). */
  def pqLut(q: ArrayData, books: ArrayData, ks: Int, subDim: Int): ArrayData = {
    val m = books.numElements() / (ks * subDim)
    val out = new Array[Double](m * ks)
    var mi = 0
    while (mi < m) {
      var c = 0
      while (c < ks) {
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          acc += q.getFloat(mi * subDim + i).toDouble *
            books.getDouble((mi * ks + c) * subDim + i)
          i += 1
        }
        out(mi * ks + c) = acc
        c += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** Approximate dot from the LUT: Σ_m lut[m·ks + code[m]] — M lookups. */
  def pqLutScore(lut: ArrayData, code: ArrayData, ks: Int): Double = {
    val m = code.numElements()
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      acc += lut.getDouble(mi * ks + code.getByte(mi).toInt)
      mi += 1
    }
    acc
  }
}

/** q: array<float> · flat codebooks: array<double> → array<double> LUT. */
case class PqLut(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(q: Any, b: Any, ks: Any, sd: Any): Any =
    PqKernels.pqLut(q.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      ks.asInstanceOf[Int], sd.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.PqKernels$$.MODULE$$.pqLut($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** lut: array<double> · code: array<tinyint> → double approximate dot. */
case class PqLutScore(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(lut: Any, code: Any, ks: Any): Any =
    PqKernels.pqLutScore(lut.asInstanceOf[ArrayData], code.asInstanceOf[ArrayData],
      ks.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.PqKernels$$.MODULE$$.pqLutScore($a, $b, $c)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

object QuantizeFunctions {
  import org.apache.spark.sql.functions._

  /** Encode a float/double vector into SQ8 codes with pinned per-dimension
    * bounds: code = round((x − lo) / step) clamped to [0, 255], stored as
    * code − 128 in a signed byte. Degenerate dimensions (step ≤ 0) encode
    * to 0 and dequantize back to lo — exact. Pure HOF arithmetic, stays in
    * codegen. */
  def sq8Encode(v: Column, lo: Seq[Double], step: Seq[Double]): Column = {
    val loC = typedLit(lo)
    val stC = typedLit(step)
    transform(v, (x, i) => {
      val l = element_at(loC, i + 1)
      val st = element_at(stC, i + 1)
      (when(st > 0.0,
        least(lit(255L), greatest(lit(0L),
          round((x.cast("double") - l) / st).cast("long"))))
        .otherwise(lit(0L)) - 128L).cast("byte")
    })
  }

  /** ADC dot column (see [[QuantizeKernels.sq8AdcDot]]). */
  def sq8AdcDot(q: Column, code: Column, lo: Seq[Double], step: Seq[Double]): Column =
    toCol(Sq8AdcDot(toExpr(q), toExpr(code),
      toExpr(typedLit(lo)), toExpr(typedLit(step))))

  /** Per-query PQ lookup table (see [[PqKernels.pqLut]]); `books` is the
    * flat [m][c][dim] codebook — model-sized, shipped as a literal. */
  def pqLut(q: Column, books: Seq[Double], ks: Int, subDim: Int): Column =
    toCol(PqLut(toExpr(q), toExpr(typedLit(books)),
      toExpr(lit(ks)), toExpr(lit(subDim))))

  /** PQ approximate dot from a precomputed LUT (see [[PqKernels.pqLutScore]]). */
  def pqLutScore(lutCol: Column, code: Column, ks: Int): Column =
    toCol(PqLutScore(toExpr(lutCol), toExpr(code), toExpr(lit(ks))))
}
