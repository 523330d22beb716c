package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._

/** Z-order (Morton) curve kernel: interleaves the bits of two 16-bit
  * dimension codes into one comparable long, so that sorting by the curve
  * value co-locates rows that are close in BOTH dimensions. Writing files
  * in curve order gives every file a tight min/max envelope on every
  * clustered column — the layout investment that makes parquet footer
  * stats prune multi-dimensional range predicates (the same idea behind
  * Delta/Iceberg Z-ORDER table maintenance). A linear sort can only ever
  * prune its leading column.
  *
  * The curve itself is a pure per-row bit shuffle — no shuffle, no state —
  * so it stays inside WholeStageCodegen via the static-call pattern. */
object ZOrderCurve {

  /** Spread the low 16 bits of `v` so bit i lands at position 2*i
    * (classic mask-shift bit dilation, O(log bits) steps). */
  def spread16(v: Int): Long = {
    var x = (v & 0xffff).toLong
    x = (x | (x << 8)) & 0x00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0fL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** Morton code of two 16-bit values: `a`'s bits occupy the odd (higher)
    * positions, `b`'s the even — the top bits of the code are (a15, b15,
    * a14, b14, …), so equal z-ranges tile the (a, b) plane as a grid. */
  def interleave16(a: Int, b: Int): Long =
    (spread16(a) << 1) | spread16(b)

  /** Scale a value into the 16-bit code space given inclusive bounds.
    * Min/max scaling keeps one cheap bounds pass; rank-based codes (range
    * partition ids per column) are the production upgrade when a clustered
    * column is heavily skewed — skew compresses the useful code range and
    * widens per-file envelopes, it never breaks correctness. */
  def scale16(v: Double, lo: Double, hi: Double): Int =
    if (hi <= lo) 0
    else {
      val s = ((v - lo) / (hi - lo) * 65535.0).toInt
      if (s < 0) 0 else if (s > 65535) 65535 else s
    }
}

/** z-value of two pre-scaled 16-bit int codes (see [[ZOrderCurve]]). */
case class ZOrder2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderCurve.interleave16(a.asInstanceOf[Int], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ZOrderCurve$$.MODULE$$.interleave16($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ZOrderFunctions {
  /** a, b: int columns already scaled to [0, 65535]. */
  def zorder2(a: Column, b: Column): Column = toCol(ZOrder2(toExpr(a), toExpr(b)))

  /** Column twin of [[ZOrderCurve.scale16]]: min/max-scale `c` into the
    * 16-bit code space with pinned (driver-known) bounds. Pure arithmetic,
    * stays in codegen. */
  def code16(c: Column, lo: Double, hi: Double): Column = {
    import org.apache.spark.sql.functions.{greatest, least, lit}
    if (hi <= lo) lit(0)
    else least(lit(65535), greatest(lit(0),
      ((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(65535.0)).cast("int")))
  }
}
