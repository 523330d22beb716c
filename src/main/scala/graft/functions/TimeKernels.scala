package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Time-of-day and timestamp-with-offset text kernels.
  *
  * Spark has no TIME type and no `HH:MM:SS.fffffffff → int` builtin; the
  * reference implements these as per-column conversion strategies
  * (`src/query/time.rs:23-165` text→TIME, `src/query/timestamp_tz.rs:37-108`
  * DATETIMEOFFSET text→UTC instant). Here they are native Catalyst
  * expressions with real codegen (a static call on UTF8String, the same
  * shape Spark's own StaticInvoke builtins compile to) so they stay inside
  * WholeStageCodegen rather than dropping to a UDF boundary.
  */
object TimeParse {

  private final val NANOS_PER_SEC = 1000000000L

  /** "HH:MM:SS[.fffffffff]" → nanos since midnight. Strict: malformed input
    * is a hard error with an actionable message (reference errors on
    * malformed time text rather than silently truncating, time.rs:140-165). */
  def parseTimeNanos(s: UTF8String): Long = {
    val str = s.toString
    val parts = str.split(':')
    if (parts.length != 3)
      throw new IllegalArgumentException(
        s"expected time text 'HH:MM:SS[.f…]' but got '$str'")
    val h = parts(0).toLong
    val m = parts(1).toLong
    val secParts = parts(2).split('.')
    val sec = secParts(0).toLong
    val frac = if (secParts.length > 1) {
      val f = secParts(1)
      if (f.length > 9)
        throw new IllegalArgumentException(s"fractional seconds beyond nanos in '$str'")
      f.toLong * math.pow(10, 9 - f.length).toLong
    } else 0L
    if (h > 23 || m > 59 || sec > 59)
      throw new IllegalArgumentException(s"time component out of range in '$str'")
    ((h * 60 + m) * 60 + sec) * NANOS_PER_SEC + frac
  }

  def parseTimeMicros(s: UTF8String): Long = parseTimeNanos(s) / 1000L
  def parseTimeMillis(s: UTF8String): Int = (parseTimeNanos(s) / 1000000L).toInt

  /** "yyyy-MM-dd HH:MM:SS[.f…] ±HH:MM" → UTC epoch micros (instant
    * semantics, isAdjustedToUTC=true — reference timestamp_tz.rs:37-108). */
  def parseTimestampTzMicros(s: UTF8String): Long = {
    val str = s.toString.trim
    val lastSpace = str.lastIndexOf(' ')
    if (lastSpace < 0)
      throw new IllegalArgumentException(
        s"expected 'yyyy-MM-dd HH:MM:SS[.f] ±HH:MM' but got '$str'")
    val dtPart = str.substring(0, lastSpace)
    val offPart = str.substring(lastSpace + 1)
    val ldt = java.time.LocalDateTime.parse(dtPart.replace(' ', 'T'))
    val off = java.time.ZoneOffset.of(offPart)
    val odt = java.time.OffsetDateTime.of(ldt, off)
    val inst = odt.toInstant
    math.addExact(math.multiplyExact(inst.getEpochSecond, 1000000L), inst.getNano / 1000L)
  }

  /** micros-since-midnight → "HH:MM:SS.ffffff" (reverse formatter parity,
    * reference input.rs:747-823 writes TIME_MICROS back as text params). */
  def microsOfDayToText(us: Long): UTF8String = {
    val h = us / 3600000000L
    val m = us / 60000000L % 60
    val s = us / 1000000L % 60
    val f = us % 1000000L
    UTF8String.fromString(f"$h%02d:$m%02d:$s%02d.$f%06d")
  }
}

abstract class StaticStringKernel extends UnaryExpression {
  /** Fully-qualified static call target, e.g. `pkg.Obj$.MODULE$.fn`. */
  protected def staticCall: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$staticCall($c)")
}

/** time text → micros since midnight (LongType). */
case class TimeTextToMicros(child: Expression) extends StaticStringKernel {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = TimeParse.parseTimeMicros(v.asInstanceOf[UTF8String])
  override protected def staticCall = "graft.functions.TimeParse$.MODULE$.parseTimeMicros"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** time text → millis since midnight (IntegerType, TIME(p≤3) parity). */
case class TimeTextToMillis(child: Expression) extends StaticStringKernel {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = TimeParse.parseTimeMillis(v.asInstanceOf[UTF8String])
  override protected def staticCall = "graft.functions.TimeParse$.MODULE$.parseTimeMillis"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** time text → nanos since midnight (LongType, TIME(p≥7) parity). */
case class TimeTextToNanos(child: Expression) extends StaticStringKernel {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = TimeParse.parseTimeNanos(v.asInstanceOf[UTF8String])
  override protected def staticCall = "graft.functions.TimeParse$.MODULE$.parseTimeNanos"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** offset-datetime text → UTC epoch micros (LongType; wrap in
  * timestamp_micros() for a TimestampType instant). */
case class TimestampTzTextToMicros(child: Expression) extends StaticStringKernel {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TimeParse.parseTimestampTzMicros(v.asInstanceOf[UTF8String])
  override protected def staticCall = "graft.functions.TimeParse$.MODULE$.parseTimestampTzMicros"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** micros since midnight → "HH:MM:SS.ffffff" text. */
case class MicrosOfDayToText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = TimeParse.microsOfDayToText(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TimeParse$$.MODULE$$.microsOfDayToText($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API + SQL-registration surface for the kernels. */
object TimeKernels {
  def time_text_to_micros(c: Column): Column = toCol(TimeTextToMicros(toExpr(c)))
  def time_text_to_millis(c: Column): Column = toCol(TimeTextToMillis(toExpr(c)))
  def time_text_to_nanos(c: Column): Column = toCol(TimeTextToNanos(toExpr(c)))
  def timestamp_tz_to_micros(c: Column): Column = toCol(TimestampTzTextToMicros(toExpr(c)))
  def micros_of_day_to_text(c: Column): Column = toCol(MicrosOfDayToText(toExpr(c)))

  /** Every [[graft.GraftExtensions]] SQL function, as [[graft.Session.pin]]. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftBridge.applyFunctionExtensions(spark, new graft.GraftExtensions)
}
